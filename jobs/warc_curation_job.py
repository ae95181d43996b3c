#!/usr/bin/env python3
"""spark-submit entry point: WARC crawl segment → curated pages table.

The webtext-axis production job (north_rule: "ships as spark-submit
--py-files modules", Common-Crawl-style input): WARC files → distributed
record scan, HTML→text extraction and URL canonicalization in one Python
task per file split → exact dedup (first capture per canonical url by
warc_ts, then by text digest) → quality filter → curated parquet + a
per-stage metrics manifest.

Usage (cluster):
    zip -r ahgts.zip air_health_gis_tools_spark
    spark-submit --py-files ahgts.zip jobs/warc_curation_job.py \
        --warc-glob '/crawl/segment-*/warc/*.warc.gz' \
        --output /out/curated --min-tokens 5

Usage (sandbox smoke — deterministic fixture segment):
    python jobs/warc_curation_job.py --synthetic-pages 2048 \
        --output /tmp/curated_out

Plan shape at crawl scale: the sorted file list is cut into Spark file
splits (one per file at crawl size, small files packed together; see
``sources/warc.file_splits``) and each split is ONE Python task. That task
streams its files' response records and extracts text and canonicalizes
the url of each 200 response with a url, so a record crosses the Arrow
boundary once and its html bytes never reach the JVM. The two dedups are
the only shuffles, both plain groupBys that map-side combine: url dedup
keys on the canonical url, text dedup on an md5 digest and carries the
whole row as a min struct, so nothing joins back to an aggregate of itself
and the upstream is planned once. Quality filtering is pure Catalyst and
runs before the text-digest shuffle so filtered rows never move. The
metrics manifest counts rows with ``DataFrame.observe`` during the write
and sums the written files' parquet footers instead of re-scanning.
"""

from __future__ import annotations

import argparse
import glob as _glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession, functions as F


def curate(spark, paths, min_tokens: int):
    """→ (raw, pages, scored, curated, counts). ``raw`` is one row per
    response record, with ``url_norm``, ``host`` and ``text`` filled on the
    200 responses that have a url; ``curated`` is the output table;
    ``counts()`` returns the manifest's row counts, which ``raw`` and
    ``scored`` observe during the first action on ``curated``."""
    import pandas as pd

    from air_health_gis_tools_spark.functions.html_text import html_to_text
    from air_health_gis_tools_spark.functions.url import canonicalize_url
    from air_health_gis_tools_spark.sources.warc import (_records_pdf_chunks,
                                                         scan_files)

    def extract(path):
        # a null url is the only input with no canonical url, so url_norm
        # is filled exactly on the pages the filter below keeps
        for pdf in _records_pdf_chunks(path, responses_only=True):
            keep = ((pdf["http_status"] == 200) & pdf["url"].notna()).tolist()
            canon = [canonicalize_url(u) if k else (None, None)
                     for u, k in zip(pdf["url"], keep)]
            yield pd.DataFrame({
                "http_status": pdf["http_status"],
                "url_norm": [c[0] for c in canon],
                "host": [c[1] for c in canon],
                "warc_ts": pdf["warc_ts"],
                "text": [html_to_text(h) if k else None
                         for h, k in zip(pdf["html"], keep)],
                "n_bytes": pdf["n_bytes"]})

    raw_obs, scored_obs = Observation(), Observation()
    raw = scan_files(
        spark, paths, extract,
        "http_status int, url_norm string, host string, warc_ts timestamp,"
        " text string, n_bytes long",
    ).observe(raw_obs, F.count(F.lit(1)).alias("n_responses"),
              F.count_if(F.col("http_status") == 200).alias("n_pages_200"))
    pages = raw.filter(F.col("url_norm").isNotNull()).drop("http_status")
    # first capture per canonical url (recrawl dedup): min (warc_ts, text)
    # struct per url — one shuffle, map-side combined
    first = (pages.groupBy("url_norm")
             .agg(F.min(F.struct("warc_ts", "host", "text", "n_bytes"))
                  .alias("f"))
             .select("url_norm", "f.warc_ts", "f.host", "f.text",
                     "f.n_bytes"))
    scored = (first.withColumn("tokens", F.size(F.split("text", " ")))
              .filter(F.col("tokens") >= min_tokens)
              .observe(scored_obs,
                       F.count(F.lit(1)).alias("n_after_quality")))
    # exact text dedup across urls: keep the row with the lexicographically
    # first url per digest (deterministic, engine-independent); url_norm is
    # unique here, so the min struct is decided by it alone
    curated = (scored.groupBy(F.md5(F.col("text")).alias("dig"))
               .agg(F.min(F.struct("url_norm", "warc_ts", "host", "text",
                                   "n_bytes", "tokens")).alias("k"))
               .select("k.*"))
    return (raw, pages, scored, curated,
            lambda: {**raw_obs.get, **scored_obs.get})


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--warc-glob", help="glob of .warc/.warc.gz files")
    p.add_argument("--synthetic-pages", type=int, default=0,
                   help="build a deterministic fixture segment instead")
    p.add_argument("--output", required=True)
    p.add_argument("--min-tokens", type=int, default=5)
    args = p.parse_args(argv)

    from air_health_gis_tools_spark.session import get_spark
    spark = SparkSession.getActiveSession() or get_spark("warc_curation")

    if args.synthetic_pages:
        from air_health_gis_tools_spark.sources.warc import ensure_pages_warc
        paths = ensure_pages_warc(
            os.path.join(args.output, "_fixture_warc"),
            args.synthetic_pages, max(args.synthetic_pages // 256, 1))
    elif args.warc_glob:
        paths = sorted(_glob.glob(args.warc_glob))
        if not paths:
            raise SystemExit(f"no files match {args.warc_glob}")
    else:
        raise SystemExit("need --warc-glob or --synthetic-pages")

    t0 = time.time()
    *_, curated, counts = curate(spark, paths, args.min_tokens)
    out = os.path.join(args.output, "curated")
    curated.write.mode("overwrite").parquet(out)
    metrics = {
        "n_warc_files": len(paths),
        **counts(),
        # summed from the written files' parquet footers: no read-back job
        "n_curated": sum(pq.read_metadata(os.path.join(out, f)).num_rows
                         for f in os.listdir(out) if f.endswith(".parquet")),
        "wall_s": round(time.time() - t0, 2),
    }
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
