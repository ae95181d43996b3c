"""Range join (operators/rangejoin.py): bucket decomposition must equal
the brute-force BETWEEN join exactly, refuse degenerate spans, and keep a
hash-join plan."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark.operators.rangejoin import range_join


def _intervals(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("int_id"),
        ((F.col("id") * 13) % 300).cast("double").alias("lo"),
        ((F.col("id") * 13) % 300 + 3 + F.col("id") % 25)
        .cast("double").alias("hi"))


def _probes(spark, n=5000):
    return spark.range(n).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 7919) % 3200 / 10.0).alias("v"))


def test_matches_bruteforce(spark):
    iv, pr = _intervals(spark), _probes(spark)
    got = {(r["pid"], r["int_id"]) for r in
           range_join(pr, iv, "v", bucket_w=8.0).collect()}
    naive = {(r["pid"], r["int_id"]) for r in
             pr.crossJoin(iv)
             .filter((F.col("v") >= F.col("lo"))
                     & (F.col("v") <= F.col("hi"))).collect()}
    assert got == naive and len(got) > 1000
    # bucket width must not change results (pure performance knob)
    got2 = {(r["pid"], r["int_id"]) for r in
            range_join(pr, iv, "v", bucket_w=50.0).collect()}
    assert got2 == naive


def test_keyed_range_join(spark):
    iv = _intervals(spark).withColumn("k", F.col("int_id") % 3)
    pr = _probes(spark).withColumn("k", F.col("pid") % 3)
    got = {(r["pid"], r["int_id"]) for r in
           range_join(pr, iv, "v", key="k", bucket_w=8.0).collect()}
    naive = {(r["pid"], r["int_id"]) for r in
             pr.alias("p").join(iv.alias("i"),
                                F.col("p.k") == F.col("i.k"))
             .filter((F.col("v") >= F.col("lo"))
                     & (F.col("v") <= F.col("hi"))).collect()}
    assert got == naive


def test_degenerate_span_refused(spark):
    iv = spark.createDataFrame([(0, 0.0, 1e9)], "int_id long, lo double, hi double")
    pr = _probes(spark, 10)
    with pytest.raises(Exception, match="spans more than"):
        range_join(pr, iv, "v", bucket_w=1.0,
                   max_span_buckets=1000).collect()


def test_overlap_span_cap_refused(spark):
    """interval_overlap_join's MAX_SPAN_BUCKETS gate: an interval one
    bucket past the cap fails the job instead of exploding; one at the cap
    still joins."""
    from air_health_gis_tools_spark.operators.rangejoin import (
        MAX_SPAN_BUCKETS, interval_overlap_join)
    right = spark.createDataFrame([(0, 1.0, 2.0)],
                                  "b_id long, lo_r double, hi_r double")
    at_cap = spark.createDataFrame([(0, 0.0, MAX_SPAN_BUCKETS - 1.0)],
                                   "a_id long, lo double, hi double")
    assert interval_overlap_join(at_cap, right, bucket_w=1.0).count() == 1
    past = spark.createDataFrame([(0, 0.0, float(MAX_SPAN_BUCKETS))],
                                 "a_id long, lo double, hi double")
    with pytest.raises(Exception, match=f"spans more than "
                                        f"{MAX_SPAN_BUCKETS} buckets"):
        interval_overlap_join(past, right, bucket_w=1.0).collect()


def test_overlap_matches_bruteforce(spark):
    from air_health_gis_tools_spark.operators.rangejoin import \
        interval_overlap_join
    left = _intervals(spark, 30).withColumnRenamed("int_id", "a_id")
    right = (_intervals(spark, 25)
             .select(F.col("int_id").alias("b_id"),
                     (F.col("lo") * 1.0 + 1.0).alias("lo_r"),
                     (F.col("hi") * 1.0 + 2.0).alias("hi_r")))
    got = {(r["a_id"], r["b_id"]) for r in
           interval_overlap_join(left, right, bucket_w=7.0).collect()}
    naive = {(r["a_id"], r["b_id"]) for r in
             left.crossJoin(right)
             .filter((F.col("lo") <= F.col("hi_r"))
                     & (F.col("lo_r") <= F.col("hi"))).collect()}
    assert got == naive and len(got) > 20
    # no duplicate pairs despite multi-bucket overlap
    rows = interval_overlap_join(left, right, bucket_w=2.0).count()
    assert rows == len(naive)


def test_plan_is_hash_join(spark):
    df = range_join(_probes(spark), _intervals(spark), "v", bucket_w=8.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "HashJoin" in p


def test_overlap_preserves_duplicate_input_rows(spark):
    """First-shared-bucket emission keeps genuinely duplicate input rows
    (the old full-row .distinct() collapsed them) while still emitting
    each pair once per input-row pair."""
    from air_health_gis_tools_spark.operators.rangejoin import \
        interval_overlap_join
    left = spark.createDataFrame(
        [(1, 0.0, 30.0), (1, 0.0, 30.0)], "a_id long, lo double, hi double")
    right = spark.createDataFrame(
        [(7, 5.0, 40.0)], "b_id long, lo_r double, hi_r double")
    rows = interval_overlap_join(left, right, bucket_w=4.0).collect()
    assert len(rows) == 2     # one per duplicate left row, no bucket dups


def test_overlap_negative_coordinates(spark):
    """floor() bucketing and the greatest(start,start) first-shared-bucket
    rule must agree for negative interval bounds too."""
    from air_health_gis_tools_spark.operators.rangejoin import \
        interval_overlap_join
    left = spark.createDataFrame(
        [(i, -50.0 + 7 * i, -40.0 + 9 * i) for i in range(12)],
        "a_id long, lo double, hi double")
    right = spark.createDataFrame(
        [(j, -33.0 + 5 * j, -25.0 + 6 * j) for j in range(10)],
        "b_id long, lo_r double, hi_r double")
    got = sorted((r["a_id"], r["b_id"]) for r in
                 interval_overlap_join(left, right, bucket_w=6.0).collect())
    naive = sorted((r["a_id"], r["b_id"]) for r in
                   left.crossJoin(right)
                   .filter((F.col("lo") <= F.col("hi_r"))
                           & (F.col("lo_r") <= F.col("hi"))).collect())
    assert got == naive and len(got) > 5
