#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Spatial workloads need volume beyond the 5k-row documents table, so the
point set for the zonal/kNN/PIP benchmarks is derived deterministically from
``lineitem`` (~600k rows at sf0.1): id = l_orderkey * 8 + l_linenumber →
(x, y) via the same integer derivation the correctness queries use. Inputs
are exclusively the driver-provided parquet tables.

The flagship metric is docs/sec through the buffered-zonal-stats kernel
(mean/min/max/count at 700/1000/10000 m per point) — the reference's
headline workload (README.md:88-92, ~5M points/s single-node).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import numpy as np

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.operators.knn import knn_broadcast_np
from air_health_gis_tools_spark.operators.pip import (pip_circle_counts,
                                                      radius_count_np)
from air_health_gis_tools_spark.operators.zonal import buffered_stats
from air_health_gis_tools_spark.functions.cells import hex_cell_expr
from air_health_gis_tools_spark.plans import queries as Q
from air_health_gis_tools_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# scaling-evidence runs multiply the point set so per-core compute dominates
# scheduler overhead (same inputs, deterministic ids)
POINT_MULT = int(os.environ.get("SPARK_GRAFT_POINT_MULT", "1"))


def bench_points(spark):
    """Large deterministic point set from lineitem keys (JVM-side exprs)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ids = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("doc_id"))
    # the parquet file is one row group → the scan is ~3 tasks no matter the
    # core count. Shuffle the SMALL id set first (SURVEY.md §4 O7 ingest
    # repartition), then do all row amplification and column derivation
    # post-shuffle so generation parallelizes across every core.
    ids = ids.repartition(CPUS * 2)
    if POINT_MULT > 1:
        reps = F.explode(F.array(*[F.lit(i) for i in range(POINT_MULT)]))
        ids = (ids.withColumn("rep", reps)
               .select((F.col("doc_id") * POINT_MULT + F.col("rep"))
                       .alias("doc_id")))
    x, y = G.point_xy_sql("doc_id", "spark")
    return ids.select("doc_id", F.expr(x).alias("x"), F.expr(y).alias("y"))


def main():
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    pts = bench_points(spark)
    n_points = pts.count()  # warms the JVM + parquet footer cache
    # warm the Python UDF workers (pandas/pyarrow import cost is cluster
    # startup, not workload): one tiny Arrow-kernel job across all cores
    warm = spark.range(CPUS * 4).repartition(CPUS * 2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 1000 + 100_000).alias("x"),
        (F.col("id") % 1000 + 100_000).alias("y"))
    buffered_stats(warm, [1000]).select(F.sum("n_valid_1000")).collect()

    only = os.environ.get("SPARK_GRAFT_QUERIES")
    only = set(only.split(",")) if only else None
    # best-of-3 by default (r4, was 2): this box shows ±50% run-to-run
    # noise from the SHARED HOST (r4 evidence: identical code, idle guest,
    # back-to-back suite walls of 29.8s and 20.5s; the r3 "+8.6% vs r2"
    # delta is inside that band — see BENCH/BASELINE.md caveats).
    # Min-of-reps inside one process rejects most of it while the full
    # suite stays far inside the driver's timeout.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def run(name, fn):
        if only is not None and name not in only:
            return
        fn()  # warmup pass: JVM JIT + codegen + shuffle-file cache
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()  # steady-state measurement; min-of-reps rejects noise
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    run("q01_zonal_600k", lambda: buffered_stats(pts, list(G.BUFFERS_M))
        .select(F.sum("n_valid_10000")).collect())
    mids = np.arange(G.N_MONITORS, dtype=np.int64)
    mxs, mys = G.monitor_xy_np(mids)
    run("q06_knn_600k", lambda: knn_broadcast_np(
        pts, (mxs, mys, mids), G.KNN_BOUND_M)
        .select(F.count("monitor_id")).collect())
    # enough polygons that the PIP stage is measurable (the 50-poly
    # correctness dim finishes in scheduler noise at bench scale)
    n_polys = int(os.environ.get("SPARK_GRAFT_PIP_POLYS", "500"))
    run("q07_pip_600k", lambda: pip_circle_counts(
        pts, Q.polys_df(spark, n_polys)).collect())
    run("q09_radius_600k", lambda: radius_count_np(
        pts, (mxs, mys), 25_000)
        .select(F.sum("n_in_radius")).collect())
    # the 100 TB scale path (tile-table cogroup partial/final agg) measured
    # alongside the specialized broadcast kernel it bit-matches
    from air_health_gis_tools_spark.operators.zonal import buffered_stats_tiled
    from air_health_gis_tools_spark.sources.raster import synthetic_tile_table
    tiles = synthetic_tile_table(spark, tile_px=256).cache()
    tiles.count()
    # unique hot_group_rows per invocation: buffered_stats_tiled persists
    # its partials, and Spark's CacheManager serves any LATER call with an
    # identical logical plan from that cache — which would make reps
    # measure a cache read, not the kernel. A distinct plan per rep keeps
    # the measurement honest (prod callers WANT the cache behavior).
    _tiled_uniq = iter(range(1000))
    run("q01_zonal_tiled_600k", lambda: buffered_stats_tiled(
        pts, tiles, list(G.BUFFERS_M), 256,
        hot_group_rows=8192 + next(_tiled_uniq))
        .select(F.sum("n_valid_10000")).collect())
    # Method-1 strategy (convolve once, gather many): fixed whole-raster
    # convolution cost + O(points) gather — the planner's pick when
    # points >> pixels. Only meaningful at POINT_MULT >= 8 (below the
    # crossover the fixed cost dominates and the planner would never pick
    # it), so it joins the suite only for scaling-evidence runs or when
    # explicitly selected.
    if POINT_MULT >= 8 or only is not None:
        from air_health_gis_tools_spark.operators.zonal import \
            buffered_mean_convolve_all
        run("q01_zonal_convolve_all_600k",
            lambda: buffered_mean_convolve_all(
                pts, tiles, list(G.BUFFERS_M), 256)
            .select(F.sum("n_valid_10000")).collect())
    big_keys = {"q33_convolve_stage_big", "q01_zonal_convolve_all_big"}
    if only is not None and (big_keys & only):
        # VERDICT r2 scaling-evidence gap: the Method-1 machinery on a
        # raster with 12x the tiles (16384x12288 px → 3072 tiles of 256)
        # — the task-rich 100 TB regime.
        BH, BW = 12288, 16384
        tiles_big = synthetic_tile_table(spark, tile_px=256,
                                         height=BH, width=BW).cache()
        tiles_big.count()
        if "q33_convolve_stage_big" in only:
            # the CONVOLUTION STAGE in isolation (plane-materializing
            # convolve_sum_count_tiles — used when the focal raster is
            # the product): the fixed whole-raster stage whose
            # parallelization the planner's crossover note asserts
            from air_health_gis_tools_spark.operators.convolve import \
                convolve_sum_count_tiles
            from air_health_gis_tools_spark.operators.zonal import radius_px
            kerns = {}
            for b in G.BUFFERS_M:
                rpx = radius_px(b)
                rng_ = np.arange(-rpx, rpx + 1)
                kr, kc = np.meshgrid(rng_, rng_, indexing="ij")
                kerns[str(b)] = (kr * kr + kc * kc
                                 <= rpx * rpx).astype(float)
            run("q33_convolve_stage_big",
                lambda: convolve_sum_count_tiles(
                    tiles_big, kerns, 256, height=BH, width=BW)
                .select(F.sum(F.element_at("s_10000", 1))).collect())
        if "q01_zonal_convolve_all_big" in only:
            # the FUSED end-to-end Method-1 op (superblock cogroup)
            from air_health_gis_tools_spark.operators.zonal import \
                buffered_mean_convolve_all
            run("q01_zonal_convolve_all_big",
                lambda: buffered_mean_convolve_all(
                    pts, tiles_big, list(G.BUFFERS_M), 256,
                    height=BH, width=BW)
                .select(F.sum("n_valid_10000")).collect())
    # rollup in its AT-SCALE regime: cell cardinality is a property of the
    # geography (fixed ~9M res-7 cells), not of the row count — so the
    # scaling multiplier amplifies rows per location, and the map-side
    # partial agg (not the exchange) carries the growth. Deriving coords
    # from the base id (doc_id DIV mult) gives exactly that shape; at
    # mult=1 it is identical to the plain rollup.
    xb, yb = G.point_xy_sql(f"(doc_id DIV {POINT_MULT})", "spark")
    pts_roll = pts.select("doc_id", F.expr(xb).alias("x"),
                          F.expr(yb).alias("y"))
    run("q21_hex_rollup_600k", lambda: pts_roll.withColumn(
        "c", hex_cell_expr(7))
        .groupBy("c").count().select(F.sum("count")).collect())
    # north-rule metric is docs/sec: the webtext ingest edge end-to-end
    # (WARC file scan -> gzip member decode -> HTTP split -> HTML->text
    # extraction), one task per file split. Fixture is built once and cached
    # on disk; the timed job never touches the generator.
    from air_health_gis_tools_spark.functions.html_text import \
        html_to_text_udf
    from air_health_gis_tools_spark.sources.warc import (ensure_pages_warc,
                                                         read_warc)
    n_pages = 16384
    warc_paths = ensure_pages_warc("/tmp/spark_graft_warc_bench",
                                   n_pages, 32)
    run("q55_warc_extract_16k", lambda: read_warc(
        spark, warc_paths, responses_only=True)
        .select(html_to_text_udf(F.col("html")).alias("t"))
        .agg(F.sum(F.length("t"))).collect())
    run("q16_minhash_docs", lambda: Q.q16_minhash(spark, SF_DIR)
        .select(F.count("mh_0")).collect())
    if only is not None and "q16_minhash_big" in only:
        # dedup-throughput scaling row (webtext axis): 64x the corpus with
        # per-copy text variation — hashing work is per shingle ROW, so
        # this measures the real md5+min pipeline, not caching artifacts
        from air_health_gis_tools_spark.operators.dedup import \
            minhash_signature
        M = 64
        big_docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                    .select("doc_id", "text")
                    .crossJoin(spark.range(M).select(
                        F.col("id").alias("rep")))
                    .select((F.col("doc_id") * M + F.col("rep"))
                            .alias("doc_id"),
                            F.concat_ws(" ", "text",
                                        F.col("rep").cast("string"))
                            .alias("text")))
        run("q16_minhash_big", lambda: minhash_signature(big_docs, 5, 4)
            .select(F.count("mh_0")).collect())
    if only is not None and "q84_semdedup_big" in only:
        # SemDeDup scaling row: an M×-the-sf-corpus embedding table of
        # DETERMINISTIC md5-derived uniform vectors (the engine's
        # standard engine-identical derivation; same family as the
        # fixture's uniform embeddings). Copies must be DECORRELATED —
        # a perturbed-duplicate fixture makes every copy a near-dup of
        # its base, so the edge OUTPUT grows as M² and the row ends up
        # measuring result materialization, not the pair search (observed
        # at M=256: 160M edges, t_hi 10s → 114s). Cluster count derives
        # from the DATA ONLY (sqrt(n) to a power of two) so both
        # parallelism legs run the identical plan; the corpus is cached
        # (the tile-table pattern) and the coarse quantizer trains ONCE
        # outside the timed job (SemDeDup trains per corpus — setup, not
        # workload). The timed job is what scales: distributed
        # assignment + the cluster-keyed pair matmuls.
        from air_health_gis_tools_spark.operators.semdedup import \
            semantic_neardup_edges_np
        from air_health_gis_tools_spark.operators.similarity import \
            ivf_train_centroids
        # M sizes the corpus so COMPUTE dominates fixed job overhead
        # (sf0.1 has only 2k base embeddings; at M=256 the whole timed
        # job was ~3 s of dgemm + ~7 s of scheduling/Arrow setup, and the
        # row measured Spark overhead, not the kernel — the protocol
        # caveat in BENCH/BASELINE.md). M=1024 → 2.05M vectors: measured
        # ~50 s at local[8], which puts t_lo(local[2]) in the same
        # 50-200 s band as the other scaling rows while keeping the
        # 4-execution local[2] leg inside the subprocess budget.
        M = int(os.environ.get("SPARK_GRAFT_EMB_MULT", "1024"))
        n_base = spark.read.parquet(
            f"{SF_DIR}/embeddings.parquet").count()
        n_vec = n_base * M
        n_lists = max(8, 1 << int(round(math.log2(math.sqrt(n_vec)))))
        # 8 md5 calls per row (8 x 4-hex-chunk components each), NOT 64:
        # the hash column materializes first so chunk extraction reuses
        # the strings — the cache build is setup, but 64 md5/row put the
        # local[2] leg's setup past the subprocess budget
        big_emb = (spark.range(0, n_vec, 1, CPUS * 2)
                   .select(F.col("id").alias("vec_id"),
                           F.expr(
                               "transform(sequence(0, 7), j -> "
                               "md5(concat(CAST(id AS STRING), '-', "
                               "CAST(j AS STRING))))").alias("hs"))
                   .select("vec_id",
                           F.expr(
                               "flatten(transform(hs, h -> "
                               "transform(sequence(0, 7), c -> CAST("
                               "(CAST(conv(substring(h, c * 4 + 1, 4), "
                               "16, 10) AS BIGINT) % 2001 - 1000) "
                               "/ 1000.0D AS FLOAT))))")
                           .alias("embedding"))
                   ).cache()
        big_emb.count()
        sample = np.stack(
            [r[0] for r in big_emb.orderBy("vec_id").limit(4096)
             .select("embedding").collect()])
        cents = ivf_train_centroids(sample, n_lists)
        # max_cluster: the skew defense is ON for the scaling row — the
        # sample-trained quantizer leaves a 106k-vector cluster at this
        # scale (sum |c|^2 11x balanced), and one cluster is ONE
        # applyInPandas task: an uncapped run measures a single-thread
        # straggler, not the engine (and 100 TB runs cap for the same
        # reason — operators/semdedup.py module docstring)
        run("q84_semdedup_big", lambda: semantic_neardup_edges_np(
            big_emb, n_lists=n_lists, centroids=cents, max_cluster=4096)
            .select(F.count("id1")).collect())
        big_emb.unpersist()
    run("q18_cosine_topk", lambda: Q.q18_cosine_topk(spark, SF_DIR).collect())
    run("q01_docs_table", lambda: Q.q01_buffered_stats(spark, SF_DIR)
        .select(F.sum("n_valid_10000")).collect())

    flagship = timings.get("q01_zonal_600k", float("nan"))
    print(json.dumps({
        "metric": "headline query suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "n_points": n_points,
        "cpus": CPUS,
        "zonal_points_per_sec": round(n_points / flagship, 1),
        "warc_extract_docs_per_sec": round(
            n_pages / timings["q55_warc_extract_16k"], 1)
        if "q55_warc_extract_16k" in timings else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
