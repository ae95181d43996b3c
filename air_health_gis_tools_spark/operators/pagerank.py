"""PageRank over a link graph — iterative algorithms as first-class ops.

Web-corpus curation ranks hosts/pages by link authority (the classic
quality prior). Spark's shape for it is the standard iterative DataFrame
loop: ``ranks ⋈ edges → groupBy(dst).sum``, one shuffle per iteration,
with the loop unrolled by the driver (deterministic iteration count — the
production form; convergence deltas are a stopping heuristic layered on
top).

**Exact fixed-point arithmetic.** Floating PageRank sums are
order-dependent — a cross-engine value hash would flap. Ranks here are
int64 micro-units (SCALE = 10^12) and every step is integer:

    contrib(src)  = rank(src) // out_degree(src)
    rank'(dst)    = BASE + (85 · Σ contrib) // 100,
    BASE          = (15 · SCALE // 100) // N

Integer sums are associative ⇒ identical results at any partitioning, on
any engine, and in the numpy golden replay (tools/make_golden.py) — the
determinism trick the engine already uses for money-style sums, applied
to an iterative algorithm. (// truncation loses ≤ 1 unit per op — a
1e-12 relative perturbation of the classic damping-0.85 iteration.)

Scale notes: each iteration is ONE shuffle keyed by dst (map-side
combined); ``ranks`` is localCheckpoint-ed per iteration — lineage MUST
truncate each round (persist alone caches data while the logical plan
keeps growing and Catalyst re-analysis compounds per iteration); a real
cluster uses reliable ``checkpoint()`` for fault tolerance at depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_fixed_point(edges: DataFrame, n_nodes: int,
                         iterations: int = 10) -> DataFrame:
    """Exact integer PageRank over ``(src, dst)`` edges, which must cover
    every node as a source (no dangling sources; the fixture guarantees
    out-degree 3).
    Returns (node, rank_fp) for every node appearing anywhere."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    base = (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN // n_nodes
    ranks = nodes.withColumn("rank_fp",
                             F.lit(SCALE // n_nodes).cast("long"))
    # localCheckpoint truncates lineage each round — persist alone caches
    # data but the logical plan keeps growing and Catalyst re-analysis
    # compounds per iteration (see operators/components.py)
    e = (edges.join(deg, "src")
         .select(F.col("src").alias("node"), F.col("dst").alias("_dst"),
                 "deg")
         .localCheckpoint())
    nodes = nodes.localCheckpoint()
    ranks = ranks.localCheckpoint()
    for _ in range(iterations):
        # DIV (exact long division) — a float `/` + cast can land on the
        # wrong side of an integer boundary and break the cross-engine
        # exactness contract
        contrib = (e.join(ranks, "node")
                   .select("_dst", F.expr("rank_fp DIV deg").alias("c")))
        acc = contrib.groupBy("_dst").agg(F.sum("c").alias("s"))
        ranks_new = (nodes.join(acc.withColumnRenamed("_dst", "node"),
                                "node", "left")
                     .select("node",
                             F.expr(f"{base} + ({DAMP_NUM} * "
                                    f"coalesce(s, 0)) DIV {DAMP_DEN}")
                             .cast("long").alias("rank_fp")))
        ranks = ranks_new.localCheckpoint()   # eager: materializes now
    return ranks
