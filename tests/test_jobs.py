"""spark-submit job entry points, driven in-process (the CLI path the
north_rule ships: WARC segment → curated pages table)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd


def _expected_curated(n):
    """Independent replay of the curation semantics over the generator
    rows: quality filter, first-capture-per-url (urls are unique in the
    fixture), then keep lexicographically-first url per exact text."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from air_health_gis_tools_spark.functions.url import canonicalize_url
    from air_health_gis_tools_spark.sources.pages import _gen_pages
    pdf = next(_gen_pages([pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64)})]))
    rows = [(canonicalize_url(u)[0], t) for u, t in
            zip(pdf["url"], pdf["text"])
            if len(t.split(" ")) >= 5]
    best: dict[str, str] = {}
    for url_norm, text in rows:
        if text not in best or url_norm < best[text]:
            best[text] = url_norm
    return len(rows), set(best.values())


def test_dedup_job(spark, tmp_path):
    """Corpus with planted exact-dup groups: the job keeps min-id per
    group, reports the histogram, and stays linear on the flood."""
    import pandas as pd
    from jobs.dedup_job import main
    texts = []
    for i in range(300):
        if i < 60:                       # flood: 60 identical docs
            texts.append("identical boilerplate page body")
        elif i < 70:                     # 5 pairs of exact dups
            texts.append(f"pair text number {i // 2}")
        else:
            texts.append(f"unique document {i} with its own words {i*7}")
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(300), "text": texts}),
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "dd")
    main(["--input", src, "--output", out])
    with open(os.path.join(out, "metrics.json")) as f:
        m = json.load(f)
    assert m["n_docs"] == 300
    # flood contributes 59 exact edges; pairs 5 more — edges stay linear
    assert m["n_edges"] >= 64
    assert m["group_size_hist"]["60"] == 1
    assert m["group_size_hist"]["2"] >= 5
    got = spark.read.parquet(os.path.join(out, "deduped")).toPandas()
    assert m["n_deduped"] == len(got) == m["n_groups"]
    flood = got[got["text"] == "identical boilerplate page body"]
    assert len(flood) == 1 and flood.iloc[0]["doc_id"] == 0


def test_warc_curation_job(spark, tmp_path):
    from jobs.warc_curation_job import main
    out = str(tmp_path / "cur")
    main(["--synthetic-pages", "256", "--output", out])
    with open(os.path.join(out, "metrics.json")) as f:
        m = json.load(f)
    n_quality, keep_urls = _expected_curated(256)
    assert m["n_responses"] == 256
    assert m["n_pages_200"] == 256
    assert m["n_after_quality"] == n_quality
    assert m["n_curated"] == len(keep_urls)
    got = (spark.read.parquet(os.path.join(out, "curated"))
           .select("url_norm").toPandas())
    assert set(got["url_norm"]) == keep_urls


def _curation_segment(path):
    """Hand-built segment covering every dedup rule: a recrawl a day later
    under a non-canonical variant of a kept url (written first, with other
    text), one text under two urls, a response with no target uri whose
    text duplicates a kept page, a page below ``min_tokens``, and records
    that are not 200 responses."""
    from air_health_gis_tools_spark.sources.warc import (
        http_response_block, write_warc_file, write_warc_record)

    def page(words):
        return http_response_block(f"<p>{words}</p>".encode())

    a = page("alpha beta gamma delta epsilon")
    a_later = page("alpha beta gamma delta epsilon revised")
    dup = page("one text under two different urls")
    short = page("too short")
    recs = [
        write_warc_record("warcinfo", None, "2021-06-01T00:00:00Z", "i0",
                          b"software: test\r\n",
                          content_type="application/warc-fields"),
        write_warc_record(
            "response",
            "HTTPS://A.Example.COM:443/p/1?utm_source=feed&id=7",
            "2021-06-02T08:00:00Z", "a-recrawl", a_later),
        write_warc_record("response", "https://a.example.com/p/1?id=7",
                          "2021-06-01T08:00:00Z", "a", a),
        write_warc_record("response", "https://c.example.com/y",
                          "2021-06-01T09:00:00Z", "c", dup),
        write_warc_record("response", "https://b.example.com/x",
                          "2021-06-01T10:00:00Z", "b", dup),
        write_warc_record("response", None, "2021-06-01T07:00:00Z",
                          "no-uri", a),
        write_warc_record("response", "https://d.example.com/short",
                          "2021-06-01T11:00:00Z", "short", short),
        write_warc_record("response", "https://e.example.com/gone",
                          "2021-06-01T12:00:00Z", "gone",
                          http_response_block(b"<p>a b c d e f</p>",
                                              status=404)),
        write_warc_record("metadata", "https://a.example.com/p/1?id=7",
                          "2021-06-01T08:00:00Z", "m0",
                          b"fetchTimeMs: 7\r\n",
                          content_type="application/warc-fields"),
    ]
    write_warc_file(path, recs)
    return len(a), len(dup)


def test_warc_curation_dedup_semantics(spark, tmp_path):
    """Full curated rows on a segment with recrawls and duplicate texts:
    first capture per canonical url, then the lexicographically-first url
    per exact text; a response with no url never wins and never appears."""
    from jobs.warc_curation_job import curate
    path = str(tmp_path / "seg.warc.gz")
    n_a, n_dup = _curation_segment(path)
    *_, curated, counts = curate(spark, [path], min_tokens=5)
    assert curated.columns == ["url_norm", "warc_ts", "host", "text",
                               "n_bytes", "tokens"]
    got = sorted((tuple(r) for r in curated.collect()), key=str)
    ts = pd.Timestamp
    assert got == [
        ("https://a.example.com/p/1?id=7", ts("2021-06-01 08:00:00"),
         "a.example.com", "alpha beta gamma delta epsilon", n_a, 5),
        ("https://b.example.com/x", ts("2021-06-01 10:00:00"),
         "b.example.com", "one text under two different urls", n_dup, 6),
    ]
    assert counts() == {"n_responses": 7, "n_pages_200": 6,
                        "n_after_quality": 3}


def test_warc_curation_single_pass_plan(spark, tmp_path):
    """Each record is scanned, extracted and canonicalized in one Python
    pass: one MapInPandas and no UDF node, no join back onto an aggregate
    of the same upstream (which would plan the scan twice), and no Exchange
    but the two dedup aggregates' (two files, so two scan tasks: a single
    scan task would need no Exchange at all)."""
    from jobs.warc_curation_job import curate
    paths = [str(tmp_path / f"seg{i}.warc.gz") for i in range(2)]
    for path in paths:
        _curation_segment(path)
    plan = curate(spark, paths, min_tokens=5)[3]._jdf.queryExecution()
    lines = plan.optimizedPlan().toString().splitlines()
    nodes = [ln.lstrip(" :+-|").split(" ")[0] for ln in lines]
    assert nodes.count("MapInPandas") == 1
    assert nodes.count("ArrowEvalPython") == 0
    assert "Join" not in nodes
    assert nodes.count("Aggregate") == 2
    physical = plan.executedPlan().toString()
    exchanges = [ln for ln in physical.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 2
    assert all("hashpartitioning" in ln for ln in exchanges)
