"""The three benchmark workloads: seeded inputs, committed runs, checks,
and the layer prefixes the traced run materialises.

Every run of a workload reads its own id range, chosen by the seed and the
run index, so no two runs share a logical plan and Spark's CacheManager can
never serve one run from another run's persisted data.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.functions.cells import hex_cell_expr
from air_health_gis_tools_spark.functions.geocode import with_xy
from air_health_gis_tools_spark.functions.html_text import html_to_text_udf
from air_health_gis_tools_spark.functions.url import canonicalize_url_udf
from air_health_gis_tools_spark.operators.zonal import buffered_stats_tiled
from air_health_gis_tools_spark.plans import queries as Q
from air_health_gis_tools_spark.plans.lineage import (CheckpointStore,
                                                      run_stage,
                                                      salted_bucket)
from air_health_gis_tools_spark.plans.pipeline import extract_pipeline
from air_health_gis_tools_spark.sources.pages import (PAGES_SCHEMA,
                                                      _gen_pages,
                                                      page_id_expr_sql)
from air_health_gis_tools_spark.sources.raster import synthetic_tile_table
from air_health_gis_tools_spark.sources.warc import (http_response_block,
                                                     read_warc,
                                                     write_warc_file,
                                                     write_warc_record)
from jobs.warc_curation_job import curate

import expected as E

RUN_STRIDE = 1_000_000       # ids reserved per run (>= any run's size)
N_BUCKETS = 8                # lineage buckets of the zonal output
TILE_PX = 256

# Python UDF function name -> the layer that owns it (for rows_per_doc)
UDF_LAYERS = {
    "_gen_pages": "sources.pages",
    "_geo": "functions.geocode",
    "_kernel": "operators.zonal",       # broadcast zonal kernel
    "_partial": "operators.zonal",      # tile-cogroup partial kernel
    "_scan": "sources.warc",
    "html_to_text_udf": "functions.html_text",
    "canonicalize_url_udf": "functions.url",
}

# A prefix: (layer, parent layers, action(k) -> extras); the committed
# run's action returns {"docs": n}
Prefix = tuple[str, list[str], Callable[[int], dict]]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path, partitioning=None).to_pandas()


def _compare(name: str, got: pd.DataFrame, want: pd.DataFrame,
             key: str) -> list[str]:
    """Exact (bit-for-bit for the doubles) comparison on ``want``'s rows."""
    got = got.set_index(key).reindex(want[key])
    bad = []
    for col in want.columns.drop(key):
        a = got[col].to_numpy(dtype=np.float64, na_value=np.nan)
        b = want[col].to_numpy(dtype=np.float64, na_value=np.nan)
        differ = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        if differ.any():
            bad.append(f"{name}.{col}: {int(differ.sum())} of {len(b)} "
                       "rows differ")
    return bad


class Workload:
    name = ""
    size = 0          # docs per run
    warm_size = 0     # docs in the set-up's warm-up run (0: ``size``)

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = os.path.join(work, f"{self.name}-{seed}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.base = (1 + seed % 99_991) * 100_000_000

    def lo(self, k: int) -> int:
        return self.base + k * RUN_STRIDE

    def out_dir(self, k: int) -> str:
        return os.path.join(self.work, f"run{k}")

    def setup(self) -> None:
        """Build the workload's fixtures (part of set-up time)."""

    def commit(self, k: int, n: int) -> int:
        """One run from source to committed output; returns docs read."""
        raise NotImplementedError

    def check(self, k: int, n: int) -> list[str]:
        """Mismatches of run ``k``'s committed output (empty = correct)."""
        raise NotImplementedError

    def prefixes(self, n: int) -> list[Prefix]:
        raise NotImplementedError

    def output_bytes(self, k: int) -> int:
        return dir_bytes(self.out_dir(k))

    def discard(self, k: int) -> None:
        shutil.rmtree(self.out_dir(k), ignore_errors=True)

    def close(self) -> None:
        """Remove everything this workload wrote (fixtures, outputs)."""
        shutil.rmtree(self.work, ignore_errors=True)


# --------------------------------------------------------------------------
# extract_resident / extract_tiled
# --------------------------------------------------------------------------

class _Extract(Workload):
    def pages(self, k: int, n: int):
        lo = self.lo(k)
        return (self.spark.range(lo, lo + n,
                                 numPartitions=max(n // 50_000, 4))
                .mapInPandas(_gen_pages, PAGES_SCHEMA))

    def points(self, k: int, n: int):
        return with_xy(self.pages(k, n).withColumn(
            "doc_id", F.expr(page_id_expr_sql("spark"))), id_col="doc_id")

    def write_zonal(self, zon, k: int) -> None:
        run_stage(zon.withColumn("bucket", salted_bucket("doc_id",
                                                         N_BUCKETS)),
                  "bucket",
                  CheckpointStore(os.path.join(self.out_dir(k), "zonal")),
                  buckets=list(range(N_BUCKETS)))

    def check_zonal(self, k: int, n: int) -> list[str]:
        got = _read(os.path.join(self.out_dir(k), "zonal"))
        bad = [] if len(got) == n and got["doc_id"].nunique() == n else [
            f"zonal: {len(got)} rows ({got['doc_id'].nunique()} ids), "
            f"want {n}"]
        return bad + _compare("zonal", got,
                              E.zonal(E.sample_ids(self.lo(k), n)),
                              "doc_id")


class ExtractResident(_Extract):
    name = "extract_resident"
    size = 40_000
    warm_size = 4_000

    def setup(self) -> None:
        self.monitors = Q.monitors_df(self.spark)
        self.polys = Q.polys_df(self.spark)

    def pipeline(self, k: int, n: int) -> dict:
        return extract_pipeline(self.pages(k, n), self.monitors, self.polys,
                                n_points_estimate=n)

    def commit(self, k: int, n: int) -> int:
        res = self.pipeline(k, n)
        self.write_zonal(res["zonal"], k)
        out = self.out_dir(k)
        res["knn"].write.mode("overwrite").parquet(os.path.join(out, "knn"))
        res["pip"].write.mode("overwrite").parquet(os.path.join(out, "pip"))
        return n

    def check(self, k: int, n: int) -> list[str]:
        out = self.out_dir(k)
        bad = self.check_zonal(k, n)
        knn = _read(os.path.join(out, "knn"))
        if len(knn) != n:
            bad.append(f"knn: {len(knn)} rows, want {n}")
        knn["monitor_id"] = knn["monitor_id"].fillna(-1)
        bad += _compare("knn", knn[["doc_id", "monitor_id", "dist_m"]],
                        E.nearest_monitor(E.sample_ids(self.lo(k), n)),
                        "doc_id")
        bad += _compare("pip", _read(os.path.join(out, "pip")),
                        E.pip_counts(self.lo(k), n), "poly_id")
        return bad

    def prefixes(self, n: int) -> list[Prefix]:
        def cells(k):
            df = self.points(k, n)
            for res in (7, 8, 9):
                df = df.withColumn(f"cell_hex_{res}", hex_cell_expr(res))
            noop(df)
            return {}

        def pipeline(k):
            t0 = time.perf_counter()
            res = self.pipeline(k, n)
            plan_s = time.perf_counter() - t0
            noop(res["points"])
            return {"plans.pipeline.plan_s": plan_s}

        def out(table):
            return lambda k: noop(self.pipeline(k, n)[table]) or {}

        def commit(k):
            return {"docs": self.commit(k, n)}

        ops = ["operators.zonal", "operators.knn", "operators.pip"]
        return [
            ("sources.pages", [], lambda k: noop(self.pages(k, n)) or {}),
            ("functions.geocode", ["sources.pages"],
             lambda k: noop(self.points(k, n)) or {}),
            ("functions.cells", ["functions.geocode"], cells),
            ("plans.pipeline", ["functions.cells"], pipeline),
            ("operators.zonal", ["plans.pipeline"], out("zonal")),
            ("operators.knn", ["plans.pipeline"], out("knn")),
            ("operators.pip", ["plans.pipeline"], out("pip")),
            ("plans.lineage", ops, commit),
        ]


class ExtractTiled(_Extract):
    name = "extract_tiled"
    size = 60_000
    warm_size = 4_000

    def setup(self) -> None:
        self.tiles = synthetic_tile_table(self.spark, tile_px=TILE_PX).cache()
        self.tiles.count()

    def zonal(self, k: int, n: int):
        return buffered_stats_tiled(self.points(k, n), self.tiles,
                                    list(G.BUFFERS_M), TILE_PX,
                                    id_col="doc_id")

    def commit(self, k: int, n: int) -> int:
        self.write_zonal(self.zonal(k, n), k)
        return n

    def check(self, k: int, n: int) -> list[str]:
        return self.check_zonal(k, n)

    def prefixes(self, n: int) -> list[Prefix]:
        def commit(k):
            return {"docs": self.commit(k, n)}

        return [
            ("sources.pages", [], lambda k: noop(self.pages(k, n)) or {}),
            ("functions.geocode", ["sources.pages"],
             lambda k: noop(self.points(k, n)) or {}),
            ("operators.zonal", ["functions.geocode"],
             lambda k: noop(self.zonal(k, n)) or {}),
            ("plans.lineage", ["operators.zonal"], commit),
        ]


# --------------------------------------------------------------------------
# curate_warc
# --------------------------------------------------------------------------

RECRAWL_EVERY = 8     # every 8th page is captured again under a URL variant


def _variant_url(url: str) -> str:
    """A non-canonical spelling of ``url`` (case, default port, tracking
    parameter, fragment) that canonicalizes back to ``url``."""
    host_path = url[len("https://"):]
    host, path = host_path.split("/", 1)
    return f"HTTPS://{host.upper()}:443/{path}?utm_source=feed#top"


def write_segment(path: str, lo: int, n: int, n_files: int
                  ) -> tuple[list[str], list[int], pd.DataFrame]:
    """Generator pages ``[lo, lo + n)`` as a member-gzip WARC segment of
    ``n_files`` files: a warcinfo record per file, a metadata record every
    64 pages, and every ``RECRAWL_EVERY``-th page captured again a day
    later under a non-canonical URL. Returns (paths, response records per
    file, pages)."""
    pages = next(_gen_pages([pd.DataFrame(
        {"id": np.arange(lo, lo + n, dtype=np.int64)})]))
    os.makedirs(path)
    paths, responses = [], []
    for fi, part in enumerate(np.array_split(np.arange(n), n_files)):
        recs = [write_warc_record(
            "warcinfo", None, "2021-01-01T00:00:00Z", f"info-{fi}",
            b"software: perfbench segment\r\n",
            content_type="application/warc-fields")]
        for i in part:
            row = pages.iloc[i]
            ts = pd.Timestamp(row["warc_ts"])
            date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            block = http_response_block(bytes(row["html"]))
            recs.append(write_warc_record("response", row["url"], date,
                                          f"resp-{lo + i}", block))
            if i % RECRAWL_EVERY == 0:
                later = (ts + pd.Timedelta(days=1)).strftime(
                    "%Y-%m-%dT%H:%M:%SZ")
                recs.append(write_warc_record(
                    "response", _variant_url(row["url"]), later,
                    f"recrawl-{lo + i}", block))
            if i % 64 == 63:
                recs.append(write_warc_record(
                    "metadata", row["url"], date, f"meta-{lo + i}",
                    b"fetchTimeMs: 7\r\n",
                    content_type="application/warc-fields"))
        paths.append(os.path.join(path, f"part-{fi:03d}.warc.gz"))
        write_warc_file(paths[-1], recs)
        responses.append(len(part) + int((part % RECRAWL_EVERY == 0).sum()))
    return paths, responses, pages


class CurateWarc(Workload):
    name = "curate_warc"
    size = 6_000          # pages in the segment; docs = response records
    warm_size = 500       # the warm-up reads the segment's first file
    n_files = 12

    def setup(self) -> None:
        """The segment every run reads, on the seed's id range."""
        self.paths, self.file_docs, pages = write_segment(
            os.path.join(self.work, "segment"), self.lo(0), self.size,
            self.n_files)
        self.want = E.curated(pages)

    def commit(self, k: int, n: int) -> int:
        files = self.n_files * n // self.size
        curated = curate(self.spark, self.paths[:files], min_tokens=5)[3]
        curated.write.mode("overwrite").parquet(
            os.path.join(self.out_dir(k), "curated"))
        return sum(self.file_docs[:files])

    def check(self, k: int, n: int) -> list[str]:
        want = self.want
        got = _read(os.path.join(self.out_dir(k), "curated"))
        got = got.sort_values("url_norm").reset_index(drop=True)
        if len(got) != len(want):
            return [f"curated: {len(got)} rows, want {len(want)}"]
        if not got["url_norm"].equals(want["url"]):
            return ["curated: url set differs from the generator's"]
        if not all(g.encode() == w.encode()
                   for g, w in zip(got["text"], want["text"])):
            return ["curated: text differs from the generator's"]
        return []

    def prefixes(self, n: int) -> list[Prefix]:
        def warc():
            return read_warc(self.spark, self.paths, responses_only=True)

        def html():
            return (warc().filter(F.col("http_status") == 200)
                    .withColumn("text", html_to_text_udf(F.col("html"))))

        def url():
            return html().withColumn("_c", canonicalize_url_udf(F.col("url")))

        def commit(k):
            return {"docs": self.commit(k, n)}

        return [
            ("sources.warc", [], lambda k: noop(warc()) or {}),
            ("functions.html_text", ["sources.warc"],
             lambda k: noop(html()) or {}),
            ("functions.url", ["functions.html_text"],
             lambda k: noop(url()) or {}),
            ("jobs.warc_curation_job", ["functions.url"], commit),
        ]


WORKLOADS = {w.name: w for w in (ExtractResident, ExtractTiled, CurateWarc)}
