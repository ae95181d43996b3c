"""SemDeDup-style semantic deduplication — cluster-local cosine near-dup
over an embedding column (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication").

q37 computes embedding-cosine near-dup pairs EXACTLY with an all-pairs
join — the correctness baseline, quadratic in the corpus. SemDeDup's
published recipe makes the same operation tractable at web scale by
restricting the pair search to k-means cluster neighborhoods: train k
centroids on a sample, assign every vector to its nearest centroid
(embarrassingly parallel), and compare pairs only WITHIN a cluster. Cost
drops from O(n²) to O(Σ|c|²) ≈ O(n²/k) with uniform clusters; pairs that
straddle a cluster boundary are missed by design (the paper's documented
approximation — raise k-probe or lower k to trade recall for cost).

Spark-first construction, reusing the IVF machinery
(operators/similarity.py):

    1. centroids: deterministic Lloyd's on an ``orderBy(id).limit(4096)``
       sample (pinned membership AND order — a bare LIMIT has neither);
    2. assignment: broadcast centroids, one batched-matmul Arrow kernel —
       narrow, no shuffle;
    3. pair search: ONE hash shuffle keyed on the cluster id carries the
       int16-quantized vector, then one ``applyInPandas`` per cluster
       tests its pairs as a blocked matmul — never a cross product;
    4. the near-dup predicate is EXACT INTEGER arithmetic end-to-end:
       embeddings quantize to int64 (×1000, the engine-wide scheme), and
       cos(u,v) ≥ τ with τ = TAU_NUM/TAU_DEN tests as

           dot > 0  AND  dot²·den² ≥ num²·‖u‖²·‖v‖²

       — the dot runs in float64 dgemm but stays below 2⁵³, so it is
       exact and results are bit-identical across engines, partitionings
       and summation orders. Every batch checks ‖q‖² ≤ ``_N2_MAX``, which
       keeps the predicate's operands inside int64 (``_n2_bound_ok``).
    5. keep policy: a vector is DROPPED iff a lower-id near-duplicate
       exists in its cluster (deterministic representative = min id; the
       paper keeps one exemplar per duplicate group — min-id is the
       reproducible choice, and id-agnostic policies plug into the same
       edge set).

At 100 TB: centroid training reads a bounded sample; assignment is
map-only; the only shuffle carries (cluster, id, quantized vector) once.
Cluster skew is NOT hypothetical: a coarse quantizer trained on a small
sample leaves heavy Voronoi-mass tails (measured on 4.1M uniform vectors
with k=2048 from a 4096 sample: max cluster 106k vectors, sum(|c|^2) 11x
the balanced value), and one giant cluster is one applyInPandas GROUP —
a quadratic single-task straggler that caps thread scaling no matter how
fast the kernel is. ``max_cluster`` is the LSH hot-bucket defense
(operators/dedup.py `_cap_band_buckets`) applied here: clusters past the
cap deterministically sub-split by ``pmod(id, ceil(|c|/cap))``; pairs
are tested within a sub-bucket only (documented recall trade), bounding
every task at O(cap^2) and the total at O(n*cap). Default off — the exact
SemDeDup semantics (and the q84 golden) are unchanged unless the caller
opts in.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .similarity import (ivf_assign, ivf_assign_topp, ivf_train_centroids,
                         training_sample)

TAU_NUM = 9          # τ = 9/20 = 0.45 — q37's corpus-calibrated threshold
TAU_DEN = 20


def _quant16_expr(col: str) -> str:
    """SQL: array<float> -> array<smallint> with the engine-wide
    floor(e·1000 + 0.5) quantization — bit-identical to ``similarity._quant_expr``
    but shipped at 2 bytes/component through the cluster shuffle (half
    the Arrow volume of the raw float32 vector). A component with
    |e| > 32 would overflow int16; it raises instead — the guard is
    folded into the produced VALUE so Catalyst cannot prune it (the
    rangejoin lesson).

    NOTE (ADVICE r5): int16 representability is NOT the binding limit —
    the exact-integer cosine predicate needs ‖q‖² ≤ _N2_MAX (≈1.5e8, see
    ``_n2_bound_ok``), i.e. |e| ≲ sqrt(_N2_MAX/dim)/1000 (~1.5 at dim
    64). The predicate-level guard is enforced per batch in the kernel;
    this int16 guard only protects the shuffle encoding."""
    return (f"transform({col}, e -> CASE WHEN abs(CAST(e AS DOUBLE)) <= 32.0"
            f" THEN CAST(floor(CAST(e AS DOUBLE) * 1000 + 0.5) AS SMALLINT)"
            f" ELSE CAST(raise_error('semdedup: |component| > 32 overflows"
            f" the int16 quantized shuffle; the exact cosine predicate"
            f" needs ||q||^2 <= {_N2_MAX}')"
            f" AS SMALLINT) END)")


# Exact-predicate operand bound (ADVICE r5): the test
#   dot²·den² ≥ num²·n2i·n2j   with |dot| ≤ √(n2i·n2j) ≤ max n2
# stays inside int64 iff (max n2)² · den² < 2⁶³ with den ≤ 20 —
# i.e. max n2 ≤ floor(√(2⁶³/400)). This also implies dot < 2⁵³, the
# float64-dgemm exactness requirement, with ~45 bits to spare.
_N2_MAX = int((2 ** 63 // 400) ** 0.5)


def _n2_bound_ok(n2_max: int) -> None:
    if n2_max > _N2_MAX:
        raise ValueError(
            f"semdedup: max ‖q‖² = {n2_max} exceeds {_N2_MAX}; the exact "
            "int64 cosine predicate would overflow (component bound is "
            "|e| <= sqrt(_N2_MAX/dim)/1000, not the int16 limit)")


def _cap_cluster_salt(assigned: DataFrame, max_cluster: int) -> DataFrame:
    """Add a deterministic ``_salt`` sub-bucket key: 0 for clusters within
    the cap, ``pmod(id, ceil(|c|/cap))`` past it. The size dim is ≤
    n_lists rows — always broadcastable; the salt derives from DATA only,
    so every parallelism level runs the identical plan (the scaling-leg
    invariant)."""
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
    return (assigned
            .join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_salt",
                F.when(F.col("_csz") <= max_cluster, F.lit(0).cast("long"))
                .otherwise(F.pmod(
                    F.col("vec_id"),
                    F.ceil(F.col("_csz") / F.lit(max_cluster))
                    .cast("long"))))
            .drop("_csz"))


def semantic_neardup_edges_np(emb: DataFrame, n_lists: int = 8,
                              centroids: np.ndarray | None = None,
                              n_probe: int = 1,
                              max_cluster: int | None = None) -> DataFrame:
    """Cluster-local near-dup edges of ``(vec_id, embedding)`` rows
    (id1 < id2, same cluster, cos ≥ TAU_NUM/TAU_DEN exact-integer).
    Columns: cluster, id1, id2. One ``applyInPandas`` per cluster runs
    the within-cluster pair search as a blocked matmul (2048-row dot
    blocks — cache-resident, the zonal-gather lesson): one BLAS pass per
    cluster instead of a per-pair expression. The ×1000 quantization and
    the exact integer predicate are the module docstring's.
    Parallelism = n_lists (size your cluster count ≥ executor slots; a
    degenerate giant cluster serializes into one task — cap upstream).

    ``max_cluster`` (module docstring) sub-splits oversized clusters by
    ``pmod(id, ceil(|c|/cap))`` before the pair search — the skew defense
    that bounds every task at O(cap^2); pairs across sub-buckets of a
    split cluster are the documented recall trade (None = off, exact).

    ``n_probe`` is the recall knob for SemDeDup's documented boundary-pair
    approximation: each vector RESIDES in its nearest list and VISITS its
    next ``n_probe - 1`` lists; pairs are tested resident×resident and
    resident×visitor, so a pair straddling a centroid boundary is caught
    whenever either side's probe set reaches the other's home list (the
    IVF multi-probe search semantics). Every surviving edge still passes
    the EXACT cosine predicate — extra probes add recall, never false
    positives. A pair that could meet in both homes is emitted only in
    the LOWER-numbered one (canonical-emission rule, checked against the
    visitor's probe set in-kernel) — no post-hoc dedup shuffle, the
    interval-join lesson. Shuffle volume scales ×n_probe."""
    if centroids is None:
        centroids = ivf_train_centroids(training_sample(emb), n_lists)
    # the cluster shuffle ships the QUANTIZED int16 vector, not the raw
    # float32: the same floor(e*1000+0.5) the kernel used to compute —
    # moved into Catalyst so the shuffled bytes halve (2 B/component).
    # The q84_semdedup_big scaling row is Arrow/shuffle-bound once the
    # matmul runs in dgemm, so shuffle bytes are the scaling lever here.
    if n_probe <= 1:
        assigned = (ivf_assign(emb, centroids)
                    .withColumnRenamed("ivf_list", "cluster")
                    .select("cluster", F.col("vec_id"),
                            F.expr(_quant16_expr("embedding")).alias("qv")))
    else:
        assigned = (ivf_assign_topp(emb, centroids, n_probe)
                    .select(F.col("vec_id"),
                            F.expr(_quant16_expr("embedding")).alias("qv"),
                            F.col("ivf_probes"),
                            F.col("ivf_probes")[0].alias("primary"),
                            F.explode("ivf_probes").alias("cluster")))
    num2, den2 = TAU_NUM * TAU_NUM, TAU_DEN * TAU_DEN
    # mirror-based single emission is only valid when home lists are whole
    # cogroup groups (see the in-kernel comment); capped multi-probe runs
    # emit per meeting and canonicalize downstream
    suppress_mirror = max_cluster is None

    def _pairs(pdf):
        import pandas as pd
        ids = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        multi = "ivf_probes" in pdf.columns
        if multi:
            prim = pdf["primary"].to_numpy(np.int64)[order]
            probes = np.stack(pdf["ivf_probes"].to_numpy()[order]) \
                .astype(np.int64)                  # (n, n_probe)
        q = np.stack(pdf["qv"].to_numpy()[order]).astype(np.int64)
        n2 = (q * q).sum(axis=1)
        # Per-batch operand guard (ADVICE r5): ‖q‖² ≤ _N2_MAX bounds BOTH
        # the exact int64 predicate (|dot| ≤ max n2 by Cauchy–Schwarz, so
        # dot²·den² < 2⁶³) AND float64-dgemm exactness (dot < 2⁵³). An
        # explicit raise, not an assert — the guarantee must survive
        # executors running under python -O.
        if len(n2):
            _n2_bound_ok(int(n2.max()))
        # The dot runs in float64 dgemm, NOT int64: NumPy integer matmul
        # never reaches BLAS (generic memory-bound loop — measured 0.517
        # thread-scaling efficiency at the 4N leg). The guard above keeps
        # every dot exactly representable in float64, so casting the
        # dgemm result back to int64 is bit-identical to integer matmul.
        qf = q.astype(np.float64)
        cl = int(pdf["cluster"].iloc[0])
        gj = np.arange(len(q))[None, :]
        if multi:
            res = prim == cl                       # resident vs visitor
        out1, out2 = [], []
        for s in range(0, len(q), 2048):
            e = min(s + 2048, len(q))
            dot = (qf[s:e] @ qf.T).astype(np.int64)  # exact — see above
            ok = ((dot > 0)
                  & (dot * dot * den2 >= num2 * n2[s:e, None] * n2[None, :]))
            tri = np.arange(s, e)[:, None] < gj
            if multi:
                # resident×resident once (strict upper triangle in id
                # order); resident row × visitor col: the mirror meeting
                # exists in the visitor's HOME list iff this resident
                # also probes it — emit only in the lower-numbered list.
                # ADVICE r5: the mirror rule is only sound when home
                # lists are whole groups — under ``max_cluster`` the
                # mirror meeting can land in a DIFFERENT sub-bucket of
                # the home list and the pair would be emitted nowhere.
                # Capped runs therefore emit on every meeting and the
                # caller dedups (min-cluster canonicalization) instead.
                rr = res[s:e, None] & res[None, :] & tri
                rv = res[s:e, None] & ~res[None, :]
                if suppress_mirror:
                    mem = np.zeros_like(rv)
                    for t in range(probes.shape[1]):
                        mem |= probes[s:e, t][:, None] == prim[None, :]
                    rv &= ~((prim[None, :] < cl) & mem)
                ok &= rr | rv
            else:
                ok &= tri
            bi, bj = np.nonzero(ok)
            i1, i2 = ids[bi + s], ids[bj]
            out1.append(np.minimum(i1, i2))
            out2.append(np.maximum(i1, i2))
        id1 = np.concatenate(out1) if out1 else np.empty(0, np.int64)
        id2 = np.concatenate(out2) if out2 else np.empty(0, np.int64)
        return pd.DataFrame({"cluster": np.full(len(id1), cl, np.int64),
                             "id1": id1, "id2": id2})

    # partition the group stage by a DATA-derived count (never the session
    # shuffle default): pair work is QUADRATIC in group size while shuffle
    # bytes are linear, so size-based AQE coalescing and a cores-sized
    # task count both leave one wave of hash-placement-unlucky tasks as
    # the stage tail. ~4+ tasks per executor slot at any cluster size
    # restores work-stealing; the count depends only on n_lists, so every
    # parallelism level runs the identical plan (the scaling-leg
    # invariant).
    n_parts = int(min(2048, max(32, n_lists)))
    if max_cluster is not None:
        if max_cluster < 1:
            raise ValueError("max_cluster must be >= 1")
        # the sizes dim and the salted main path both consume the
        # assignment kernel — checkpoint it once (lazily, on the first
        # action; ContextCleaner reclaims it with the frame) instead of
        # running the n x k x d kernel twice per action
        assigned = assigned.localCheckpoint(eager=False)
        salted = (_cap_cluster_salt(assigned, max_cluster)
                  .repartition(n_parts, "cluster", "_salt"))
        edges = salted.groupBy("cluster", "_salt").applyInPandas(
            _pairs, schema="cluster bigint, id1 bigint, id2 bigint")
        if n_probe > 1:
            # capped multi-probe emits a pair at EVERY resident×visitor
            # meeting (mirror suppression off — see _pairs); canonicalize
            # to one row per edge, attributed to the lowest meeting list.
            # The dedup shuffle moves only edges, never vectors.
            edges = (edges.groupBy("id1", "id2")
                     .agg(F.min("cluster").alias("cluster"))
                     .select("cluster", "id1", "id2"))
        return edges
    return (assigned.repartition(n_parts, "cluster")
            .groupBy("cluster").applyInPandas(
                _pairs, schema="cluster bigint, id1 bigint, id2 bigint"))


def semantic_dedup(emb: DataFrame, n_lists: int = 8) -> DataFrame:
    """Per-vector SemDeDup verdict at τ = TAU_NUM/TAU_DEN: (vec_id,
    cluster, n_nbrs, keep) — n_nbrs = near-dup neighbors in the cluster
    (either direction), keep = 0 iff a lower-id near-duplicate exists.
    All-integer output (hash-safe across engines)."""
    centroids = ivf_train_centroids(training_sample(emb), n_lists)
    assigned = (ivf_assign(emb, centroids)
                .withColumnRenamed("ivf_list", "cluster"))
    edges = semantic_neardup_edges_np(emb, n_lists, centroids=centroids)
    # per-vector rollup of the (already cluster-bounded) edge set: one
    # aggregate over both endpoints, exploded in one pass over the edges
    nbrs = (edges.select(F.inline(F.array(
                F.struct(F.col("id1").alias("vec_id"),
                         F.lit(0).alias("has_lower")),
                F.struct(F.col("id2").alias("vec_id"),
                         F.lit(1).alias("has_lower")))))
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n_nbrs"),
                 F.max("has_lower").alias("dropped")))
    return (assigned.select("vec_id", "cluster")
            .join(nbrs, "vec_id", "left")
            .select("vec_id", F.col("cluster").cast("bigint").alias("cluster"),
                    F.coalesce("n_nbrs", F.lit(0)).cast("bigint")
                    .alias("n_nbrs"),
                    (F.lit(1) - F.coalesce("dropped", F.lit(0)))
                    .cast("bigint").alias("keep")))
