"""spark-submit job entry points, driven in-process (the CLI paths the
north_rule ships: WARC segment → curated pages table, pages → resumable
extraction tables, GeoTIFF → zonal table)."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest


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


def _committed(root):
    """Every row a ``CheckpointStore`` at ``root`` holds, read from its
    bucket files in a canonical row order."""
    pdf = pd.concat([pd.read_parquet(f) for f in
                     glob.glob(os.path.join(root, "bucket=*", "*.parquet"))],
                    ignore_index=True)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_extract_job_resumes_every_table(spark, tmp_path, monkeypatch):
    """A run that dies in the PIP commit resumes: the rerun keeps the
    zonal and kNN commits untouched (byte-identical manifests), commits
    PIP, and all three tables equal a clean run's."""
    from air_health_gis_tools_spark.plans import lineage
    from jobs.extract_job import main
    args = ["--synthetic-pages", "3000"]
    clean, out = str(tmp_path / "clean"), str(tmp_path / "out")
    main([*args, "--output", clean])

    run_stage = lineage.run_stage

    def dies_in_pip(df, part_col, store, buckets):
        if store.root.endswith("pip"):
            raise RuntimeError("killed in the pip commit")
        return run_stage(df, part_col, store, buckets)

    monkeypatch.setattr(lineage, "run_stage", dies_in_pip)
    with pytest.raises(RuntimeError, match="pip commit"):
        main([*args, "--output", out])
    monkeypatch.undo()

    def manifest(table):
        with open(os.path.join(out, table, "_manifest.json"), "rb") as f:
            return f.read()

    before = {t: manifest(t) for t in ("zonal", "knn")}
    assert not os.path.exists(os.path.join(out, "pip", "_manifest.json"))
    main([*args, "--output", out])
    assert {t: manifest(t) for t in ("zonal", "knn")} == before
    for table, n in (("zonal", 3000), ("knn", 3000), ("pip", 50)):
        got = _committed(os.path.join(out, table))
        assert len(got) == n
        pd.testing.assert_frame_equal(
            got, _committed(os.path.join(clean, table)))


def test_raster_extract_job_matches_broadcast_kernel(spark, tmp_path):
    """The GeoTIFF job (tile scan → tiled zonal) on a 113 m raster with
    nodata gives, for every synthetic point, the broadcast kernel's
    statistics over the same array bit for bit."""
    from air_health_gis_tools_spark.operators.zonal import buffered_stats
    from air_health_gis_tools_spark.sources.geotiff import write_geotiff
    from air_health_gis_tools_spark.sources.raster import (
        tile_table_from_array)
    from jobs.raster_extract_job import main
    rng = np.random.default_rng(5)
    arr = rng.integers(0, 1000, size=(300, 260)).astype(np.float64)
    arr[rng.random(arr.shape) < 0.2] = np.nan
    tif, out = str(tmp_path / "r.tif"), str(tmp_path / "zonal")
    write_geotiff(tile_table_from_array(spark, arr, tile_px=128), tif,
                  height=300, width=260, tile_px=128,
                  transform=(0.0, 113.0, 0.0, -113.0))
    main(["--tif", tif, "--synthetic-points", "500", "--output", out])
    got = (spark.read.parquet(out).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    # the job's synthetic points: interior pixels, 16 px from every edge
    ids = np.arange(500, dtype=np.int64)
    pts = pd.DataFrame({
        "doc_id": ids,
        "x": (16 + (ids * 48271 + 11) % (260 - 32)) * 113 + 113 // 7,
        "y": (16 + (ids * 16807 + 23) % (300 - 32)) * 113 + 113 // 2})
    want = (buffered_stats(spark.createDataFrame(pts), [700, 1000, 10000],
                           raster=arr, xres=113)
            .drop("x", "y").toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == 500 and list(got.columns) == list(want.columns)
    assert len(want.columns) == 1 + 12
    pd.testing.assert_frame_equal(got, want, check_exact=True)
