"""WARC codec (sources/warc.py): spec round-trips, gzip member iteration,
HTTP splitting, and the distributed scan vs a serial parse."""

from __future__ import annotations

import gzip
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark.sources.warc import (
    ensure_pages_warc, http_response_block, parse_warc_bytes, read_warc,
    split_http_response, write_warc_file, write_warc_record)


def _sample_records():
    return [
        write_warc_record("warcinfo", None, "2021-01-01T00:00:00Z", "i0",
                          b"software: test\r\n",
                          content_type="application/warc-fields"),
        write_warc_record("response", "https://a.example/1",
                          "2021-06-01T12:30:05Z", "r1",
                          http_response_block(b"<p>one</p>")),
        write_warc_record("response", "https://a.example/2",
                          "2021-06-02T00:00:00Z", "r2",
                          http_response_block(b"\x00\xffbinary body",
                                              status=404,
                                              content_type="text/plain")),
    ]


@pytest.mark.parametrize("member_gzip", [True, False])
def test_roundtrip(tmp_path, member_gzip):
    path = str(tmp_path / "t.warc.gz")
    write_warc_file(path, _sample_records(), member_gzip=member_gzip)
    with open(path, "rb") as f:
        recs = list(parse_warc_bytes(f.read()))
    assert [r["headers"]["warc-type"] for r in recs] == [
        "warcinfo", "response", "response"]
    assert recs[1]["headers"]["warc-target-uri"] == "https://a.example/1"
    s, ct, body = split_http_response(recs[1]["block"])
    assert (s, ct, body) == (200, "text/html; charset=utf-8", b"<p>one</p>")
    s2, ct2, body2 = split_http_response(recs[2]["block"])
    assert (s2, ct2, body2) == (404, "text/plain", b"\x00\xffbinary body")


def test_whole_file_gzip(tmp_path):
    """A conventionally-gzipped (single member) WARC also parses."""
    path = str(tmp_path / "w.warc.gz")
    with open(path, "wb") as f:
        f.write(gzip.compress(b"".join(_sample_records()), mtime=0))
    with open(path, "rb") as f:
        assert len(list(parse_warc_bytes(f.read()))) == 3


def test_fixture_deterministic(tmp_path):
    a = ensure_pages_warc(str(tmp_path / "a"), 256, 2)
    b = ensure_pages_warc(str(tmp_path / "b"), 256, 2)
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()


def test_streaming_reader_bounded_batches(tmp_path):
    """The executor-side reader streams: identical records to the
    whole-buffer parser, flushed in bounded chunks (ADVICE r3 — a 1 GB
    file must never materialize as one DataFrame)."""
    from air_health_gis_tools_spark.sources.warc import (
        _records_pdf_chunks, _stream_records)
    for member_gzip in (True, False):
        path = str(tmp_path / f"s{member_gzip}.warc.gz")
        write_warc_file(path, _sample_records() * 40,
                        member_gzip=member_gzip)
        with open(path, "rb") as f:
            exp = list(parse_warc_bytes(f.read()))
        got = list(_stream_records(path))
        assert len(got) == len(exp) == 120
        assert all(g["headers"] == e["headers"] and
                   g["block"] == e["block"] for g, e in zip(got, exp))
        chunks = list(_records_pdf_chunks(path, chunk_rows=32))
        assert [len(c) for c in chunks] == [32, 32, 32, 24]


def test_streaming_reader_truncated_tail_parity(tmp_path):
    """A truncated final record must behave EXACTLY like the whole-buffer
    parser: complete header + short body → clamped block; mid-header
    truncation → dropped (r4 review — the first streaming version
    silently dropped the clamped-block case)."""
    from air_health_gis_tools_spark.sources.warc import _stream_records
    recs = _sample_records()
    whole = b"".join(recs)
    for cut in (len(whole) - 7,                  # short body
                len(whole) - len(recs[2]) + 10):  # mid-header
        path = str(tmp_path / f"t{cut}.warc")
        with open(path, "wb") as f:
            f.write(whole[:cut])
        exp = list(parse_warc_bytes(whole[:cut]))
        got = list(_stream_records(path))
        assert len(got) == len(exp)
        assert all(g["headers"] == e["headers"] and g["block"] == e["block"]
                   for g, e in zip(got, exp))


def test_streaming_reader_chunk_boundary_records(tmp_path):
    """Records spanning decompress-chunk boundaries parse intact: a large
    body forces the incremental parser to buffer across chunks."""
    from air_health_gis_tools_spark.sources.warc import _stream_records
    big = bytes(range(256)) * 8192          # 2 MiB body > 1 MiB chunk
    recs = [write_warc_record("response", "https://big.example/x",
                              "2021-01-01T00:00:00Z", "big",
                              http_response_block(big)),
            write_warc_record("response", "https://big.example/y",
                              "2021-01-01T00:00:01Z", "tail",
                              http_response_block(b"after-big"))]
    path = str(tmp_path / "big.warc")
    write_warc_file(path, recs, member_gzip=False)
    got = list(_stream_records(path))
    assert len(got) == 2
    assert split_http_response(got[0]["block"])[2] == big
    assert split_http_response(got[1]["block"])[2] == b"after-big"


def test_distributed_scan_matches_serial(spark, tmp_path):
    paths = ensure_pages_warc(str(tmp_path / "warc"), 512, 4)
    df = read_warc(spark, paths)
    # record mix: 1 warcinfo per file + 128 responses + 2 metadata per file
    mix = {r["warc_type"]: r["n"] for r in
           df.groupBy("warc_type").agg(F.count("*").alias("n")).collect()}
    assert mix == {"warcinfo": 4, "response": 512, "metadata": 8}
    got = (df.filter(F.col("warc_type") == "response")
           .select("url", "http_status", "n_bytes", "html")
           .toPandas().sort_values("url").reset_index(drop=True))
    rows = []
    for p in paths:
        with open(p, "rb") as f:
            for rec in parse_warc_bytes(f.read()):
                if rec["headers"]["warc-type"] != "response":
                    continue
                s, _, body = split_http_response(rec["block"])
                rows.append({"url": rec["headers"]["warc-target-uri"],
                             "http_status": s,
                             "n_bytes": len(rec["block"]), "html": body})
    exp = pd.DataFrame(rows).sort_values("url").reset_index(drop=True)
    assert (got["url"] == exp["url"]).all()
    assert (got["http_status"].to_numpy()
            == exp["http_status"].to_numpy()).all()
    assert (got["n_bytes"].to_numpy() == exp["n_bytes"].to_numpy()).all()
    assert all(bytes(a) == b for a, b in zip(got["html"], exp["html"]))


def test_responses_only_filters_inside_scan(spark, tmp_path):
    """``responses_only`` is the full scan filtered to responses, row for
    row with ``record_idx`` still counting every record in the file, and
    the filter runs inside the scan: the plan has no Filter above it."""
    paths = ensure_pages_warc(str(tmp_path / "warc"), 256, 2)
    extra = str(tmp_path / "extra.warc.gz")
    write_warc_file(extra, _sample_records())
    paths.append(extra)
    full = [tuple(r) for r in read_warc(spark, paths).collect()]
    assert {r[2] for r in full} == {"warcinfo", "response", "metadata"}
    want = sorted(r for r in full if r[2] == "response")
    df = read_warc(spark, paths, responses_only=True)
    got = sorted(tuple(r) for r in df.collect())
    assert len(want) == 258
    assert got == want
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan


def test_read_warc_file_split(spark, tmp_path):
    """Files split the way Spark's file sources split unsplittable files:
    small files pack into ``defaultParallelism`` splits of contiguous
    sorted paths, a file larger than ``maxPartitionBytes`` sits alone, and
    the rows are the per-file scan's, with no shuffle in the plan."""
    from air_health_gis_tools_spark.sources.warc import (_records_pdf_chunks,
                                                         file_splits)
    par = spark.sparkContext.defaultParallelism
    paths = ensure_pages_warc(str(tmp_path / "warc"), 64 * 3 * par, 3 * par)
    splits = file_splits(spark, paths)
    assert len(splits) == par
    assert [p for s in splits for p in s] == sorted(paths)
    # Spark's own unsplittable file source cuts the same files as often
    assert (spark.read.format("binaryFile").load(paths).rdd
            .getNumPartitions() == par)

    df = read_warc(spark, paths)
    assert "RoundRobinPartitioning" not in (
        df._jdf.queryExecution().executedPlan().toString())
    assert df.rdd.getNumPartitions() == par
    got = (df.withColumn("split", F.spark_partition_id()).toPandas()
           .sort_values(["src_file", "record_idx"]).reset_index(drop=True))
    by_split = got.groupby("split")["src_file"].agg(lambda s: sorted(set(s)))
    assert by_split.tolist() == splits
    want = (pd.concat([c for p in paths for c in _records_pdf_chunks(p)])
            .reset_index(drop=True))
    assert (got["src_file"] == want["src_file"]).all()
    assert (got["record_idx"] == want["record_idx"]).all()
    for col in ("warc_type", "record_id", "url", "content_type",
                "http_content_type"):
        assert got[col].fillna("").tolist() == want[col].fillna("").tolist()
    assert got["warc_ts"].tolist() == want["warc_ts"].tolist()
    assert (got["http_status"].fillna(-1).to_numpy()
            == want["http_status"].fillna(-1).to_numpy()).all()
    assert (got["n_bytes"].to_numpy() == want["n_bytes"].to_numpy()).all()
    assert [None if h is None else bytes(h) for h in got["html"]] == \
        want["html"].tolist()

    big = str(tmp_path / "warc" / "big.warc")
    write_warc_file(big, [write_warc_record(
        "response", "https://big.example/x", "2021-01-01T00:00:00Z", "big",
        http_response_block(b"x" * (1 << 20)))], member_gzip=False)
    small = sorted(paths)[:6]
    try:
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        assert file_splits(spark, small) == [small]
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(3 * os.path.getsize(small[0])))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        splits = file_splits(spark, small + [big])
        assert [big] in splits
        assert max(len(s) for s in splits) > 1
        assert [p for s in splits for p in s] == sorted(small + [big])
    finally:
        for key in ("minPartitionNum", "maxPartitionBytes",
                    "openCostInBytes"):
            spark.conf.unset(f"spark.sql.files.{key}")


def test_q55_byte_identity(spark):
    """WARC → HTTP split → HTML extraction returns the generator's text
    byte-for-byte for every page (the north_star invariant through the
    full ingest chain)."""
    from air_health_gis_tools_spark.plans.queries import (N_PAGES_Q55,
                                                          q55_warc_ingest)
    from air_health_gis_tools_spark.sources.pages import _gen_pages
    out = q55_warc_ingest(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) == N_PAGES_Q55
    out = out.sort_values("page_id").reset_index(drop=True)
    pdf = next(_gen_pages([pd.DataFrame(
        {"id": np.arange(N_PAGES_Q55, dtype=np.int64)})]))
    assert (out["extracted"] == pdf["text"]).all()
    assert (out["url"] == pdf["url"]).all()
    assert (out["http_status"] == 200).all()
