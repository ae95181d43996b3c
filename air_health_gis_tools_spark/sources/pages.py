"""Deterministic Common-Crawl-style pages fixture (FIXTURES.md §1).

Schema exactly per BASELINE.json input_hint:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generated distributed (spark.range → Arrow kernel), pure function of the row
index: no wall clock, no RNG state. 20 % of pages cluster into 5 urban
hotspots (the id-derived coordinates in geo_synth already encode this); the
text embeds one coordinate-bearing phrase ``"x <int> y <int>"`` so the
geocode's regex path is exact, with the id-hash fallback exercised by
rows whose phrase is withheld (every 13th page).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geo_synth import point_xy_np

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

_WORDS = ("air quality monitor grid raster buffer point polygon tile cell "
          "join health exposure smoke fire density wind mean extract").split()
_LANGS = ("en", "en", "en", "de", "fr")


def _gen_pages(batches):
    for pdf in batches:
        ids = pdf["id"].to_numpy(np.int64)
        x, y = point_xy_np(ids)
        urls = [f"https://site{int(i) % 997}.example/page/{int(i)}"
                for i in ids]
        ts = pd.to_datetime((ids * 37) % 31_536_000, unit="s",
                            origin="2021-01-01")
        texts = []
        for k, i in enumerate(ids):
            body = " ".join(_WORDS[int(j) % len(_WORDS)]
                            for j in range(i % 7, i % 7 + 12))
            if i % 13 != 0:  # withhold the phrase on every 13th page
                body += f" x {int(x[k])} y {int(y[k])}"
            texts.append(body)
        htmls = [f"<html><body>{t}</body></html>".encode() for t in texts]
        langs = [_LANGS[int(i) % 5] for i in ids]
        yield pd.DataFrame({"url": urls, "warc_ts": ts, "html": htmls,
                            "text": texts, "lang": langs})


def synthetic_pages(spark: SparkSession, n: int) -> DataFrame:
    rng = spark.range(n, numPartitions=max(n // 50_000, 4))
    return rng.mapInPandas(_gen_pages, PAGES_SCHEMA)


def page_id_expr_sql(dialect: str) -> str:
    """Recover the generator index from url (stable join key: the trailing
    path segment)."""
    if dialect == "spark":
        return "CAST(regexp_extract(url, '/page/(\\\\d+)$', 1) AS BIGINT)"
    return "CAST(regexp_extract(url, '/page/(\\d+)$', 1) AS BIGINT)"
