"""Range (interval) join — probes against [lo, hi] intervals, scale-safe.

Spark's optimizer turns ``p JOIN i ON p.v BETWEEN i.lo AND i.hi`` into a
BroadcastNestedLoopJoin (every probe row tested against every interval) —
quadratic once the interval side outgrows a broadcast. The standard
re-expression (same trick Databricks' range-join optimization and every
interval-join paper use) is BUCKET DECOMPOSITION, pure Catalyst:

    1. pick a bucket width ``w``; explode each interval into the bucket
       ids it covers (``sequence(floor(lo/w), floor(hi/w))``);
    2. bucket each probe value once (``floor(v/w)``);
    3. hash equi-join on the bucket id (plus any equality key);
    4. re-check the exact ``lo <= v <= hi`` predicate.

No dedup pass is needed: a probe's single bucket meets each covering
interval exactly once. Cost: one shuffle keyed by bucket, join fan-in
bounded by intervals-per-bucket. Long intervals explode into many rows —
a span cap (``MAX_SPAN_BUCKETS``; ``range_join`` takes it as
``max_span_buckets``) fails fast (executor-side ``raise_error``) instead of
letting one degenerate interval produce millions of rows; pick ``w`` near
the typical interval length so the blow-up factor stays ~2.

The q75 oracle is DuckDB's native inequality join (its IEJoin operator) —
an independent physical algorithm for identical semantics.

Reference parity: the reference's analogue is value-band classification of
raster pixels (thresholding in calculate_focal_mean.R); generic interval
joins are the webtext/event-axis generalization (BASELINE brief lists
"as-of join, range join" as first-class operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# fail-fast cap on the buckets one interval may explode into
MAX_SPAN_BUCKETS = 10_000


def _explode_buckets(df: DataFrame, lo: str, hi: str, bucket_w: float,
                     max_span: int, op: str) -> DataFrame:
    """``df`` with one row per bucket id ``_b`` its ``[lo, hi]`` interval
    covers (``sequence(floor(lo/w), floor(hi/w))``). An interval over more
    than ``max_span`` buckets fails the job, naming ``op``. The guard lives
    INSIDE the sequence's end bound — a separate guard column would be
    pruned away by the optimizer and never evaluated."""
    start = F.floor(F.col(lo) / bucket_w).cast("long")
    span = F.floor(F.col(hi) / bucket_w).cast("long") - start + 1
    end = F.when(
        span <= max_span,
        F.floor(F.col(hi) / bucket_w).cast("long")
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"{op}: interval spans more than {max_span} "
              f"buckets at bucket_w={bucket_w}; raise bucket_w or split "
              "the interval — ["),
        F.col(lo).cast("string"), F.lit(", "),
        F.col(hi).cast("string"), F.lit("]"))).cast("long"))
    return df.withColumn("_b", F.explode(F.sequence(start, end)))


def range_join(probes: DataFrame, intervals: DataFrame, v_col: str,
               bucket_w: float = 10.0, key: str | None = None,
               max_span_buckets: int = MAX_SPAN_BUCKETS) -> DataFrame:
    """Inner join of probe rows to every ``[lo, hi]`` interval containing
    ``v_col`` (and matching ``key``, if given). Returns probe columns +
    interval columns. Exact semantics: ``lo <= v <= hi`` (pure comparisons
    — no float arithmetic crosses the result surface)."""
    b_int = _explode_buckets(intervals, "lo", "hi", bucket_w,
                             max_span_buckets, "range_join")
    b_pr = probes.withColumn(
        "_b", F.floor(F.col(v_col) / bucket_w).cast("long"))
    on = ["_b"] if key is None else ["_b", key]
    return (b_pr.join(b_int, on)
            .filter((F.col(v_col) >= F.col("lo"))
                    & (F.col(v_col) <= F.col("hi")))
            .drop("_b"))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          bucket_w: float = 10.0) -> DataFrame:
    """Interval × interval OVERLAP join of ``left`` ``[lo, hi]`` and
    ``right`` ``[lo_r, hi_r]`` (``lo <= hi_r AND lo_r <= hi``): both sides
    explode into bucket coverage, equi-join on the bucket, exact overlap
    re-check. Two overlapping intervals can share SEVERAL buckets, so each
    pair is emitted only at its FIRST shared bucket — both coverages are
    contiguous ranges, so their intersection starts at
    ``greatest(start_l, start_r)``; keeping only the join row whose bucket
    equals that value yields each pair exactly once with a cheap post-join
    filter, instead of a second full shuffle through ``.distinct()``
    (which would also collapse genuinely duplicate input rows when callers
    lack a unique key). Same fail-fast span guard as
    range_join on both sides, at ``MAX_SPAN_BUCKETS``."""
    op = "interval_overlap_join"
    a = _explode_buckets(left, "lo", "hi", bucket_w, MAX_SPAN_BUCKETS, op)
    b = _explode_buckets(right, "lo_r", "hi_r", bucket_w, MAX_SPAN_BUCKETS,
                         op)
    first_shared = F.greatest(
        F.floor(F.col("lo") / bucket_w).cast("long"),
        F.floor(F.col("lo_r") / bucket_w).cast("long"))
    return (a.join(b, ["_b"])
            .filter((F.col("lo") <= F.col("hi_r"))
                    & (F.col("lo_r") <= F.col("hi"))
                    & (F.col("_b") == first_shared))
            .drop("_b"))
