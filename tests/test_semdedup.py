"""SemDeDup operator (operators/semdedup.py): exact-integer threshold
predicate, cluster restriction, min-id keep rule, degenerate-corpus
behavior, and the two input guards (‖q‖² and int16 component bounds)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from air_health_gis_tools_spark.operators.semdedup import (
    semantic_dedup, semantic_neardup_edges_np)

DIM = 8
SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType()))])


def _emb_df(spark, vectors):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return spark.createDataFrame(rows, SCHEMA)


def _rng_vectors(n, dim=DIM, seed=7):
    rng = np.random.default_rng(seed)
    return rng.uniform(-1, 1, size=(n, dim)).astype(np.float32)


def _brute_edges(vectors, cluster, tau_num, tau_den):
    """Independent numpy brute force of the cluster-local integer
    predicate."""
    q = np.floor(vectors.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    n2 = (q * q).sum(axis=1)
    out = set()
    for u in range(len(vectors)):
        for v in range(u + 1, len(vectors)):
            if cluster[u] != cluster[v]:
                continue
            dot = int((q[u] * q[v]).sum())
            if dot > 0 and (dot * dot * tau_den * tau_den
                            >= tau_num * tau_num * int(n2[u]) * int(n2[v])):
                out.add((u, v))
    return out


def test_edges_match_bruteforce_and_stay_in_cluster(spark):
    """Plant near-dups (tiny perturbations) in a random corpus; the
    operator's edge set must equal the numpy brute force restricted to
    its own cluster assignment, on three corpora (each fits one 2048-row
    block, so the strict-upper-triangle mask spans the whole matrix)."""
    for n, n_planted, seed, jitter_seed in ((40, 6, 7, 9), (40, 6, 13, 14),
                                            (30, 5, 31, 32)):
        base = _rng_vectors(n, seed=seed)
        planted = (base[:n_planted]
                   + _rng_vectors(n_planted, seed=jitter_seed) * 0.01)
        vectors = np.vstack([base, planted.astype(np.float32)])
        df = _emb_df(spark, vectors)
        verdict = semantic_dedup(df, n_lists=4).toPandas().sort_values(
            "vec_id").reset_index(drop=True)
        cluster = verdict["cluster"].to_numpy()
        got = {(r["id1"], r["id2"]) for r in
               semantic_neardup_edges_np(df, n_lists=4).collect()}
        expected = _brute_edges(vectors, cluster, 9, 20)
        assert got == expected
        assert expected, "fixture must plant at least one near-dup pair"
        # keep rule from the same edge set: dropped iff a lower-id neighbor
        dropped = {v for _, v in expected}
        for _, row in verdict.iterrows():
            assert row["keep"] == (0 if row["vec_id"] in dropped else 1)
            deg = sum(1 for e in expected if row["vec_id"] in e)
            assert row["n_nbrs"] == deg


def test_identical_flood_keeps_one_per_cluster(spark):
    """All-identical vectors land in one cluster; exactly the min id
    survives (the degenerate corpus degrades to q37's exact join, not to
    a wrong answer)."""
    vectors = np.tile(_rng_vectors(1, seed=3), (30, 1))
    verdict = semantic_dedup(_emb_df(spark, vectors), n_lists=4).toPandas()
    assert verdict["keep"].sum() == 1
    assert verdict.loc[verdict["keep"] == 1, "vec_id"].item() == 0
    assert (verdict["n_nbrs"] == 29).all()


def test_orthogonal_corpus_all_kept(spark):
    vectors = np.eye(DIM, dtype=np.float32)
    verdict = semantic_dedup(_emb_df(spark, vectors), n_lists=2).toPandas()
    assert (verdict["keep"] == 1).all()
    assert (verdict["n_nbrs"] == 0).all()


def test_overflow_guard(spark):
    """‖q‖² past ``_N2_MAX`` would overflow the exact int64 predicate:
    eight components at 5.0 give ‖q‖² = 2·10⁸ and raise, through
    ``semantic_dedup``, before any edge is emitted."""
    from air_health_gis_tools_spark.operators.semdedup import _N2_MAX
    vectors = np.vstack([np.full((1, DIM), 5.0), _rng_vectors(9)])
    assert 8 * 5000 ** 2 > _N2_MAX
    with pytest.raises(Exception, match=f"exceeds {_N2_MAX}"):
        semantic_dedup(_emb_df(spark, vectors), n_lists=2).collect()


def test_int16_component_guard(spark):
    """A component past ±32 cannot ship as the int16 quantized vector:
    the shuffle encoding raises instead of wrapping."""
    vectors = _rng_vectors(10)
    vectors[3, 0] = 40.0
    with pytest.raises(Exception, match=r"\|component\| > 32"):
        semantic_dedup(_emb_df(spark, vectors), n_lists=2).collect()


def test_integer_predicate_equals_float_threshold(spark):
    """Away from the quantization boundary the integer predicate must
    agree with the float cosine threshold on the quantized vectors."""
    vectors = _rng_vectors(30, seed=11)
    df = _emb_df(spark, vectors)
    edges = {(r["id1"], r["id2"]) for r in
             semantic_neardup_edges_np(df, n_lists=1).collect()}
    q = np.floor(vectors.astype(np.float64) * 1000 + 0.5)
    norm = np.sqrt((q * q).sum(axis=1))
    cos = (q @ q.T) / norm[:, None] / norm[None, :]
    for u in range(len(vectors)):
        for v in range(u + 1, len(vectors)):
            if abs(cos[u, v] - 0.45) > 1e-9:
                assert ((u, v) in edges) == (cos[u, v] >= 0.45)


def _all_pairs_edges(vectors, tau_num=9, tau_den=20):
    """Exact near-dup pairs with NO cluster restriction (recall
    ceiling)."""
    return _brute_edges(vectors, np.zeros(len(vectors), np.int64),
                        tau_num, tau_den)


def test_multiprobe_recall_monotone_and_exact(spark):
    """n_probe recall knob: edges at n_probe=1 ⊆ n_probe=2 ⊆ … ⊆ the
    exact all-pairs set; every extra edge still satisfies the exact
    predicate (probes add recall, never false positives), and no edge is
    emitted twice (canonical-emission rule)."""
    base = _rng_vectors(60, seed=21)
    planted = base[:10] + _rng_vectors(10, seed=22) * 0.01
    vectors = np.vstack([base, planted.astype(np.float32)])
    df = _emb_df(spark, vectors)
    ceiling = _all_pairs_edges(vectors)
    assert ceiling
    prev: set = set()
    for p in (1, 2, 4):
        rows = semantic_neardup_edges_np(df, n_lists=4, n_probe=p).collect()
        edges = [(r["id1"], r["id2"]) for r in rows]
        assert len(edges) == len(set(edges)), "duplicate edge emitted"
        eset = set(edges)
        assert prev <= eset
        assert eset <= ceiling
        prev = eset
    # n_probe = n_lists probes every list: boundary pairs whose two homes
    # are both probed are all recovered — recall must strictly improve on
    # a fixture whose n_probe=1 set is below the ceiling, or already be
    # at the ceiling
    full = {(r["id1"], r["id2"]) for r in
            semantic_neardup_edges_np(df, n_lists=4, n_probe=4).collect()}
    one = {(r["id1"], r["id2"]) for r in
           semantic_neardup_edges_np(df, n_lists=4, n_probe=1).collect()}
    assert len(full) >= len(one)


def test_max_cluster_noop_when_under_cap(spark):
    """A cap no cluster exceeds must be a pure no-op — identical edges."""
    base = _rng_vectors(40, seed=41)
    planted = base[:6] + _rng_vectors(6, seed=42) * 0.01
    vectors = np.vstack([base, planted.astype(np.float32)])
    df = _emb_df(spark, vectors)
    uncapped = {(r["id1"], r["id2"]) for r in
                semantic_neardup_edges_np(df, n_lists=4).collect()}
    capped = {(r["id1"], r["id2"]) for r in
              semantic_neardup_edges_np(df, n_lists=4,
                                        max_cluster=10_000).collect()}
    assert capped == uncapped


def test_max_cluster_subset_and_salt_rule(spark):
    """Past the cap: the capped edge set is a sub-bucket-consistent SUBSET
    of the uncapped one — every surviving pair shares
    pmod(id, ceil(|c|/cap)), every dropped pair does not, and the result
    is deterministic across runs."""
    # one deliberately tight corpus: everything lands in few clusters and
    # near-dups are plentiful
    base = _rng_vectors(8, seed=51)
    reps = np.repeat(base, 12, axis=0)
    jitter = _rng_vectors(len(reps), seed=52) * 0.005
    vectors = (reps + jitter).astype(np.float32)
    df = _emb_df(spark, vectors)
    cap = 10
    uncapped = {(r["id1"], r["id2"]) for r in
                semantic_neardup_edges_np(df, n_lists=2).collect()}
    capped_rows = semantic_neardup_edges_np(
        df, n_lists=2, max_cluster=cap).collect()
    capped = {(r["id1"], r["id2"]) for r in capped_rows}
    assert capped <= uncapped
    assert capped, "cap fixture must keep some within-bucket pairs"
    assert capped != uncapped, "cap fixture must split a cluster"
    # reconstruct the salt rule independently and verify edge membership
    from air_health_gis_tools_spark.operators.similarity import (
        SAMPLE_N, ivf_assign, ivf_train_centroids)
    sample = np.stack(
        [r[0] for r in df.orderBy("vec_id").limit(SAMPLE_N)
         .select("embedding").collect()])
    cents = ivf_train_centroids(sample, 2)
    assigned = (ivf_assign(df, cents).select("vec_id", "ivf_list")
                .toPandas().set_index("vec_id")["ivf_list"].to_dict())
    import collections
    csize = collections.Counter(assigned.values())
    import math as _m
    def salt(i):
        c = assigned[i]
        nsb = _m.ceil(csize[c] / cap)
        return 0 if csize[c] <= cap else i % nsb
    for i1, i2 in uncapped:
        same_bucket = (assigned[i1] == assigned[i2]
                       and salt(i1) == salt(i2))
        assert ((i1, i2) in capped) == same_bucket, (i1, i2)
    # determinism
    again = {(r["id1"], r["id2"]) for r in semantic_neardup_edges_np(
        df, n_lists=2, max_cluster=cap).collect()}
    assert again == capped


def test_multiprobe_with_max_cluster_emits_every_meeting(spark):
    """ADVICE r5 regression: combining n_probe>1 with max_cluster used to
    drop resident×visitor pairs whose mirror meeting fell into a
    DIFFERENT sub-bucket of the visitor's home list (the canonical-
    suppression rule assumed whole home lists). Now capped multi-probe
    runs emit at every meeting and canonicalize downstream. Verify the
    edge set against an independent reconstruction of the documented
    semantics: a predicate-passing pair is emitted iff SOME probed-by-
    both list where at least one side is resident co-buckets the two ids
    (pmod(id, ceil(rows_in_list/cap))), and no edge appears twice."""
    import collections
    import math as _m
    from air_health_gis_tools_spark.operators.similarity import (
        SAMPLE_N, ivf_assign_topp, ivf_train_centroids)
    base = _rng_vectors(8, seed=61)
    reps = np.repeat(base, 12, axis=0)
    jitter = _rng_vectors(len(reps), seed=62) * 0.005
    # centroid-boundary straddlers: near-identical pairs seeded at base
    # midpoints, so some pairs split across home lists (the shape the r5
    # suppression could drop under a cap)
    mids = np.stack([(base[i] + base[(i + 3) % 8]) / 2 for i in range(8)])
    mid_pairs = np.repeat(mids, 2, axis=0)
    mid_pairs += _rng_vectors(len(mid_pairs), seed=63) * 0.01
    vectors = np.vstack([reps + jitter, mid_pairs]).astype(np.float32)
    df = _emb_df(spark, vectors)
    cap, n_lists, n_probe = 10, 2, 2
    rows = semantic_neardup_edges_np(
        df, n_lists=n_lists, n_probe=n_probe, max_cluster=cap).collect()
    edges = [(r["id1"], r["id2"]) for r in rows]
    assert len(edges) == len(set(edges)), "duplicate edge after dedup"
    got = set(edges)
    # independent reconstruction
    sample = np.stack(
        [r[0] for r in df.orderBy("vec_id").limit(SAMPLE_N)
         .select("embedding").collect()])
    cents = ivf_train_centroids(sample, n_lists)
    probes_pdf = (ivf_assign_topp(df, cents, n_probe)
                  .select("vec_id", "ivf_probes").toPandas())
    probes = {int(r["vec_id"]): [int(x) for x in r["ivf_probes"]]
              for _, r in probes_pdf.iterrows()}
    rows_per_list = collections.Counter(
        L for ps in probes.values() for L in ps)
    nsb = {L: max(1, _m.ceil(n / cap)) if n > cap else 1
           for L, n in rows_per_list.items()}
    ceiling = _all_pairs_edges(vectors)
    expected = set()
    for (i, j) in ceiling:
        for L in set(probes[i]) & set(probes[j]):
            if probes[i][0] != L and probes[j][0] != L:
                continue                     # visitor×visitor never tested
            if i % nsb[L] == j % nsb[L]:
                expected.add((i, j))
                break
    assert got == expected
    assert expected, "fixture must produce capped multi-probe pairs"
    # NOTE: no p=1 ⊆ p=2 monotonicity under a cap — sub-bucket counts
    # include visitor rows, so raising n_probe legitimately re-buckets
    # (the documented sub-bucket recall trade); the reconstruction
    # equality above is the exact contract.
    # the fixture must exercise the once-dropped shape: some expected
    # pair must be resident×visitor with differing sub-bucket mirrors
    rv = [(i, j) for (i, j) in expected
          if probes[i][0] != probes[j][0]]
    assert rv, "fixture must contain resident×visitor emissions"
