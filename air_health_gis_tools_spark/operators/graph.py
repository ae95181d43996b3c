"""Triangle counting over the near-dup candidate graph — degree-ordered
wedge join, the O(m^1.5) plan that survives skew.

Why it's in a curation engine: triangles (and the clustering coefficient
they induce) distinguish a tight duplicate CLUSTER (template farms, mirror
sites — dense, many triangles) from a chain of pairwise-similar documents
(drifting boilerplate — few triangles), which changes what a dedup pass
should keep. PageRank (operators/pagerank.py) ranks authority; this ranks
cohesion.

The naive SQL plan — three-way self-join on id-ordered edges — is correct
but its wedge step fans out quadratically in the max OUT-degree of the
id-ordering: a low-id hub with d neighbors spawns d² wedge rows. The
standard fix (every distributed triangle paper since Suri-Vassilvitskii's
MR-triangles) is DEGREE ordering: orient each undirected edge from the
lower-(degree, id) endpoint to the higher, so every vertex's out-degree is
O(sqrt(m)) and the wedge join is O(m^1.5) TOTAL, hub-proof. Both orderings
enumerate each triangle exactly once from its minimum vertex, so results
are identical — the DuckDB oracle uses the id-ordered plan precisely
because it is an independent formulation.

Plan shape: degrees (one map-side-combined aggregate over exploded edge
endpoints) → join ranks onto edges (the |V|-row degree table is hinted
broadcast only below a measured size gate — ``BROADCAST_DEG_MAX_NODES`` —
else the hint is omitted and AQE picks shuffle-hash on the edge key; an
unconditional hint would OOM the driver on a web-scale vertex set) →
wedge self-join on the common LOW endpoint → closing-edge hash equi-join →
explode corners → per-node count. Three shuffles total, all keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (node:int64, deg:int64) rows — 1M nodes ≈ 16 MB dense, comfortably inside
# a 1 GiB driver / executor broadcast budget; past it the degree join falls
# back to a distributed join (AQE picks shuffle-hash: the degree table has
# no useful sort order).
BROADCAST_DEG_MAX_NODES = 1_000_000


def triangle_counts(edges: DataFrame,
                    n_nodes: int | None = None) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph given as ``(id1, id2)`` endpoint pairs (either orientation;
    duplicates and self-loops dropped). Returns (node, n_triangles) for
    every node in at least one triangle. ``n_nodes`` (|V|, counted if not
    supplied) gates the degree-table broadcast hint."""
    e = (edges.select(F.least("id1", "id2").alias("a"),
                      F.greatest("id1", "id2").alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=False))
    if n_nodes is None:
        n_nodes = deg.count()   # also materializes the degree checkpoint
    hint = F.broadcast if n_nodes <= BROADCAST_DEG_MAX_NODES else (
        lambda df: df)
    # total order (deg, node): orient edges low→high so out-degree is
    # O(sqrt(m)) — the hub-proofing step
    ranked = e \
        .join(hint(deg.withColumnRenamed("node", "a")
                   .withColumnRenamed("deg", "da")), "a") \
        .join(hint(deg.withColumnRenamed("node", "b")
                   .withColumnRenamed("deg", "db")), "b")
    lo_first = (F.col("da") < F.col("db")) | \
               ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"))
    # oriented feeds THREE consumers (two wedge legs + the closing-edge
    # side). Unmaterialized, Catalyst clones its whole upstream per consumer
    # — the static plan blows up 3× (166 Exchange nodes / 7.5k plan lines
    # observed) and only runtime exchange reuse saves the recompute.
    # Checkpoint once (edge-table sized — LSH-capped in the dedup use;
    # lazy, and reclaimed by ContextCleaner with the frame, unlike a
    # persist nobody unpersists) so every consumer scans the same
    # materialized rows and the distinct/degree subplans exist exactly
    # once, as ``components.py`` does for its label tables.
    oriented = oriented.localCheckpoint(eager=False)
    # wedges from the common low vertex; u < v in (deg, id) order keeps
    # each unordered wedge once
    w1 = oriented.select(F.col("lo"), F.col("hi").alias("u"))
    w2 = oriented.select(F.col("lo"), F.col("hi").alias("v"))
    wedges = (w1.join(w2, "lo")
              .filter(F.col("u") < F.col("v")))
    # closing edge may be oriented either way between u and v
    closing = oriented.select(
        F.least("lo", "hi").alias("u2"), F.greatest("lo", "hi").alias("v2"))
    tris = wedges.join(
        closing,
        (F.least("u", "v") == F.col("u2"))
        & (F.greatest("u", "v") == F.col("v2"))).select("lo", "u", "v")
    corners = (tris.select(F.col("lo").alias("node"))
               .unionAll(tris.select(F.col("u").alias("node")))
               .unionAll(tris.select(F.col("v").alias("node"))))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))
