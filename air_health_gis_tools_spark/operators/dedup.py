"""Deduplication operators over the documents table.

- exact_dedup:      hash-groupBy on content digest (md5) — partial/final agg,
                    the only shuffle moves (digest, id) pairs.
- minhash_signature: k salted min-hashes over character shingles; built from
                    ``md5`` so the DuckDB oracle reproduces every signature
                    bit-for-bit (shingle → md5(salt||shingle) → MIN per doc).
- lsh_candidate_pairs: band the signature, equi-join on (band, band_hash) —
                    the classic MinHash-LSH candidate generation; at scale
                    the band join is a plain hash shuffle join keyed by the
                    band digest (uniform keys → no skew).
- ngram_jaccard:    exact n-gram Jaccard for a candidate pair set
                    (verification stage after LSH).
- simhash_banded_pairs: Hamming-bounded simhash near-dup pairs (signatures
                    from functions/text.simhash_udf) via pigeonhole bands.

Everything below is Catalyst expressions (explode / groupBy / join); no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(digest, n_docs, keep_id): one row per distinct content; keep_id =
    min id (the canonical survivor)."""
    return (docs.select(F.md5(F.col("text")).alias("digest"), "doc_id")
            .groupBy("digest")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("keep_id")))


def _spread_ingest(docs: DataFrame) -> DataFrame:
    """Parallelize a compact text source before per-shingle work (r6,
    guide §2.5 input skew): one parquet row group = one scan task, so the
    shingle explode (and any md5 per shingle) would run on one core. When
    the scan has fewer partitions than the cluster has slots, hash-
    redistribute the (id, text) rows by id first — the text shuffle is
    small next to the per-shingle compute it parallelizes, and keying by
    ``doc_id`` at the session's shuffle partitioning lets any downstream
    groupBy(id) reuse the exchange (guide §2.4). Wide sources (the real-
    scale case) skip this: there the scan is already parallel and an
    extra full-text shuffle would be pure cost."""
    src = docs.select("doc_id", "text")
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_parts = par
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(shuffle_parts, F.col("doc_id"))
    return src


def _shingle_array(n: int):
    """The character n-grams of ``text`` as an array (a text shorter than
    ``n`` is its own one shingle)."""
    return F.expr(
        f"transform(sequence(1, greatest(length(text) - {n - 1}, 1)), "
        f"p -> substring(text, p, {n}))")


def shingles(docs: DataFrame, n: int = 5) -> DataFrame:
    """Distinct character n-gram shingles per doc, via sequence+explode
    (JVM-side; no UDF)."""
    return (_spread_ingest(docs)
            .select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))
            .distinct())


MINHASH_P = 2147483647          # 2^31 − 1 (Mersenne prime)
# deterministic affine permutation constants < P (id-hash style LCG seeds)
_MH_A = [1103515245 % MINHASH_P, 69069, 1664525, 22695477,
         1103515247, 134775813, 214013, 1103515249]
_MH_B = [12345, 362437, 1013904223, 1, 7, 2531011, 2531019, 11]


def _mh_perm_consts(k: int) -> list[tuple[int, int]]:
    out = []
    for i in range(k):
        a = _MH_A[i % len(_MH_A)] + 2 * (i // len(_MH_A))  # keep a odd-ish
        b = _MH_B[i % len(_MH_B)] + i // len(_MH_B)
        out.append((a % MINHASH_P or 1, b % MINHASH_P))
    return out


def minhash_signature(docs: DataFrame, n: int = 5, k: int = 4) -> DataFrame:
    """k-wide MinHash signature over ONE base hash:
    h = md5(shingle)[:15 hex] mod P, mh_i = MIN((a_i·h + b_i) mod P).

    One md5 per shingle (not k) and the k permutations are int64 affine
    maps — ~k× less hashing and the groupBy shuffle moves 8-byte ints, not
    32-char digests. All products stay < 2^62 (h, a_i < 2^31), so the
    arithmetic is exact int64 in BOTH engines — the DuckDB oracle
    reproduces every signature bit-for-bit (no overflow-semantics skew).
    Output: (doc_id, mh_0..mh_{k-1}).

    NOTE: no ``distinct`` on the shingle stream — MIN is duplicate-
    insensitive, and skipping it removes a whole shuffle; the only shuffle
    left is the map-side-combined groupBy(doc_id), which moves k ints per
    document regardless of document length.

    Ingest spread (r6): the md5-per-shingle work is ~50× the text bytes,
    so a compact source is redistributed by id first via ``_spread_ingest``
    — and because the spread keys on ``doc_id`` at the session's shuffle
    partitioning, the trailing groupBy(doc_id) reuses that exchange: the
    whole signature then needs exactly ONE (small) shuffle.
    """
    sh = _spread_ingest(docs).select(
        "doc_id", F.explode(_shingle_array(n)).alias("shingle"))
    h = (f"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) "
         f"% {MINHASH_P}")
    sh = sh.select("doc_id", F.expr(h).alias("h"))
    aggs = [F.min(F.expr(f"(h * {a}L + {b}L) % {MINHASH_P}"))
            .alias(f"mh_{i}")
            for i, (a, b) in enumerate(_mh_perm_consts(k))]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_base_hash_sql_duckdb() -> str:
    """DuckDB expression for the same base hash h (shared by oracles)."""
    return (f"(CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) "
            f"% {MINHASH_P})")


def _cap_band_buckets(banded: DataFrame, max_bucket: int | None
                      ) -> DataFrame:
    """Hot-bucket defense for band self-joins (VERDICT r3): a degenerate
    band value shared by B rows makes the self-equi-join emit B² pairs —
    at web scale, millions of boilerplate/empty documents share a band
    and one bucket goes quadratic. With ``max_bucket`` set, buckets
    larger than the cap are EXCLUDED from pair generation (their members
    are exact-or-near duplicates of each other en masse — the exact-dedup
    digest pass, which is linear, is the right tool for them; compose via
    ``collapsed_neardup_edges``). The per-bucket count is one map-side-
    combined groupBy on the SAME key the join shuffles on, so the plan
    re-uses the partitioning it already needed."""
    if max_bucket is None:
        return banded
    counts = (banded.groupBy("band", "val")
              .agg(F.count(F.lit(1)).alias("_bucket_n")))
    return (banded.join(counts, ["band", "val"])
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n"))


def band_overflow_report(banded: DataFrame, max_bucket: int) -> DataFrame:
    """(band, val, n) for buckets the cap would drop — the logging side of
    the overflow filter; run it as its own cheap job when auditing."""
    return (banded.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket))


def _band_pairs(banded: DataFrame, max_bucket: int | None,
                sig_col: str | None = None) -> DataFrame:
    """Distinct ``(id1 < id2)`` doc pairs sharing a capped ``(band, val)``
    bucket (``_cap_band_buckets``), for both banding schemes; with
    ``sig_col``, each side's signature rides along as ``_s1`` / ``_s2``."""
    banded = _cap_band_buckets(banded, max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    cols = [F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")]
    if sig_col is not None:
        cols += [F.col(f"a.{sig_col}").alias("_s1"),
                 F.col(f"b.{sig_col}").alias("_s2")]
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.val") == F.col("b.val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(*cols)
            .distinct())


def lsh_candidate_pairs(sig: DataFrame, bands: int = 4,
                        max_bucket: int | None = None) -> DataFrame:
    """Candidate near-dup pairs sharing ≥ 1 band (here 1 row per shared
    band = 1 signature column, rows_per_band = k/bands = 1 for the default
    k=4). Self-equi-join on (band_idx, band_val), id1 < id2.
    ``max_bucket`` enables the hot-bucket cap (see _cap_band_buckets)."""
    return _band_pairs(lsh_banded(sig, bands), max_bucket)


def lsh_banded(sig: DataFrame, bands: int = 4) -> DataFrame:
    """(id, band, val): the exploded band table behind lsh_candidate_pairs."""
    k = len([c for c in sig.columns if c.startswith("mh_")])
    per = max(k // bands, 1)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{i}").cast("string")
                 for i in range(b * per, (b + 1) * per)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.concat_ws("_", *parts).alias("val")))
    return (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bv"))
            .select("doc_id", F.col("bv.band").alias("band"),
                    F.col("bv.val").alias("val")))


def simhash_banded_pairs(sig: DataFrame, bits: int, ham_max: int,
                         sig_col: str = "simhash",
                         max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs with Hamming(sig) ≤ ham_max via PIGEONHOLE BANDING —
    the scale-safe replacement for the all-pairs ``a.id < b.id`` join.

    Split the ``bits``-wide signature into ``ham_max + 1`` contiguous bands:
    any pair within ham_max differing bits must agree EXACTLY on ≥ 1 band
    (pigeonhole), so an equi-join on (band_idx, band_value) generates a
    candidate superset; the exact ``bit_count(xor)`` verify then filters.
    Result set is IDENTICAL to the brute-force join — this is candidate
    pruning, not approximation (same machinery as MinHash-LSH banding
    above, applied to Hamming space; Manku et al., WWW'07 §3).

    Plan: one explode (bands per row), one hash shuffle join keyed by the
    band value, dedup on the id pair, exact verify. No cross product.
    Returns (id1, id2, hamming).
    """
    nb = ham_max + 1
    base, extra = divmod(bits, nb)
    sizes = [base + (1 if i < extra else 0) for i in range(nb)]
    starts = [sum(sizes[:i]) for i in range(nb)]
    band_cols = []
    for i, (s, ln) in enumerate(zip(starts, sizes)):
        val = (F.shiftrightunsigned(F.col(sig_col), s)
               .bitwiseAND(F.lit((1 << ln) - 1)))
        band_cols.append(F.struct(F.lit(i).alias("band"), val.alias("val")))
    banded = (sig.select("doc_id", sig_col,
                         F.explode(F.array(*band_cols)).alias("bv"))
              .select("doc_id", sig_col, F.col("bv.band").alias("band"),
                      F.col("bv.val").alias("val")))
    return (_band_pairs(banded, max_bucket, sig_col)
            .withColumn("hamming",
                        F.bit_count(F.col("_s1").bitwiseXOR(F.col("_s2")))
                        .cast("long"))
            .filter(F.col("hamming") <= ham_max)
            .select("id1", "id2", "hamming"))


def collapsed_neardup_edges(docs: DataFrame, n: int = 5, k: int = 4,
                            bands: int = 4, max_bucket: int | None = 1024
                            ) -> DataFrame:
    """Scale-safe near-dup edge generation (VERDICT r3 hot-bucket fix,
    composed): collapse EXACT duplicates through the digest groups first
    — so a million byte-identical boilerplate pages contribute ONE
    representative to the band join instead of a quadratic bucket — then
    MinHash-LSH over representatives only, with the band-bucket cap as
    the backstop for near- (not exact-) duplicate floods. Returns the
    undirected edge list (id1, id2):

      - (keep_id, member) for every exact-duplicate group member — linear
        in corpus size by construction;
      - (rep1, rep2) LSH candidate pairs among representatives.

    Feeding these edges to connected_components yields the same dedup
    GROUPS as the uncollapsed pipeline (exact dups share all bands with
    their representative, so transitively they land in the same
    component) while candidate-pair count stays linear on degenerate
    corpora — the pytest with 10k identical docs asserts exactly that."""
    groups = exact_dedup_groups(docs)
    exact_edges = (docs.select(F.md5(F.col("text")).alias("digest"),
                               F.col("doc_id"))
                   .join(groups.select("digest", "keep_id"), "digest")
                   .filter(F.col("doc_id") != F.col("keep_id"))
                   .select(F.col("keep_id").alias("id1"),
                           F.col("doc_id").alias("id2")))
    reps = (docs.join(groups.select(F.col("keep_id").alias("doc_id")),
                      "doc_id", "left_semi"))
    sig = minhash_signature(reps, n, k)
    rep_pairs = lsh_candidate_pairs(sig, bands, max_bucket=max_bucket)
    return exact_edges.unionByName(rep_pairs)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, n: int = 5
                  ) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate (id1, id2) pairs.

    |A∩B| via shingle equi-join, |A∪B| = |A|+|B|-|A∩B| — integer counts, so
    the final division is a single exact-operand IEEE op."""
    sh = shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("id1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("id2"),
                   F.col("shingle").alias("shingle"))
    inter = (pairs.join(s1, "id1").join(s2, ["id2", "shingle"])
             .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("n_inter")))
    out = (pairs.join(inter, ["id1", "id2"], "left")
           .join(sizes.select(F.col("doc_id").alias("id1"),
                              F.col("sz").alias("sz1")), "id1")
           .join(sizes.select(F.col("doc_id").alias("id2"),
                              F.col("sz").alias("sz2")), "id2")
           .select("id1", "id2",
                   (F.coalesce("n_inter", F.lit(0)).cast("double")
                    / (F.col("sz1") + F.col("sz2")
                       - F.coalesce("n_inter", F.lit(0))).cast("double"))
                   .alias("jaccard")))
    return out
