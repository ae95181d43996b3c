"""Similarity-search strategies: exact baselines agree; ANN variants
(IVF, sign-LSH) measured for recall against brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark.operators.similarity import (
    ann_topk_ivf, ann_topk_lsh, cosine_topk, ivf_assign, ivf_train_centroids)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return list(emb.filter(F.col("vec_id") == 0).head()["embedding"])


def test_ivf_assignment_is_nearest_centroid(spark, emb):
    sample = np.stack([r[0] for r in emb.select("embedding")
                       .limit(256).collect()])
    cents = ivf_train_centroids(sample, n_lists=8)
    got = ivf_assign(emb, cents).select("vec_id", "ivf_list").toPandas()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for _, row in got.sample(50, random_state=1).iterrows():
        v = vecs[row["vec_id"]]
        d = ((cents - v[None, :]) ** 2).sum(axis=1)
        assert int(np.argmin(d)) == row["ivf_list"]


def test_ivf_full_probe_equals_exact(emb, qvec):
    exact = cosine_topk(emb, qvec, k=10).toPandas()["vec_id"].tolist()
    full = ann_topk_ivf(emb, qvec, k=10, n_lists=8,
                        n_probe=8).toPandas()["vec_id"].tolist()
    assert full == exact


def test_ann_recall_curve_and_floor(emb, qvec):
    """recall@10 vs n_probe on the FIXTURE corpus (uniform-random vectors —
    the hardest case for partition-pruned ANN: the 10th neighbor sits at
    cosine ≈ 0.45, barely above the bulk). The q41 operating point
    (8 lists / 6 probes) must clear 0.9; the curve is printed for BENCH."""
    exact = set(cosine_topk(emb, qvec, k=10).toPandas()["vec_id"])
    curve = {}
    for n_probe in (1, 2, 4, 6, 8):
        got = set(ann_topk_ivf(emb, qvec, k=10, n_lists=8,
                               n_probe=n_probe).toPandas()["vec_id"])
        curve[n_probe] = len(got & exact) / 10
    print(f"ivf recall@10 by n_probe (8 lists): {curve}")
    assert curve[6] >= 0.9          # q41's operating point
    assert curve[8] == 1.0          # full probe == exact (proven again)
    lsh = set(ann_topk_lsh(emb, qvec, k=10,
                           n_tables=4).toPandas()["vec_id"])
    print(f"lsh recall@10 (8 planes, 4 tables): {len(lsh & exact) / 10}")


def _planted_corpus(spark, n_noise=480, n_near=10, dim=64, seed=7):
    """Query + planted near-duplicates (cos ≈ 0.99) in random noise —
    the regime ANN pruning is FOR; recall here measures the operator, not
    the adversarial data."""
    rng = np.random.default_rng(seed)
    q = rng.standard_normal(dim)
    near = q[None, :] + 0.05 * rng.standard_normal((n_near, dim))
    noise = rng.standard_normal((n_noise, dim))
    vecs = np.vstack([q, near, noise])
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(len(vecs))]
    return (spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            [float(v) for v in q])


def test_ann_high_recall_on_clustered_data(spark):
    df, q = _planted_corpus(spark)
    df = df.cache()
    exact = set(cosine_topk(df, q, k=10).toPandas()["vec_id"])
    ivf = set(ann_topk_ivf(df, q, k=10, n_lists=8,
                           n_probe=2).toPandas()["vec_id"])
    lsh = set(ann_topk_lsh(df, q, k=10, n_planes=8,
                           n_tables=4).toPandas()["vec_id"])
    r_ivf = len(ivf & exact) / 10
    r_lsh = len(lsh & exact) / 10
    print(f"planted-cluster recall@10 — ivf(2/8): {r_ivf}, "
          f"lsh(8 planes, 4 tables): {r_lsh}")
    assert r_ivf >= 0.9
    assert r_lsh >= 0.9


def test_ivfpq_full_refine_equals_ivf_exact(emb, qvec):
    """refine >= all candidates + full probes ⇒ IVF-PQ degenerates to the
    exact top-k (ADC only orders the shortlist, never drops truth)."""
    from air_health_gis_tools_spark.operators.similarity import ann_topk_ivfpq
    exact = cosine_topk(emb, qvec, k=10).toPandas()["vec_id"].tolist()
    full = ann_topk_ivfpq(emb, qvec, k=10, n_lists=8, n_probe=8,
                          refine=10_000).toPandas()["vec_id"].tolist()
    assert full == exact


def test_ivfpq_recall_floor_at_operating_point(emb, qvec):
    """recall@10 >= 0.8 at the q59 operating point on uniform-random
    vectors (the worst case for ANY pruned ANN — ADC adds quantization
    loss on top of IVF's list pruning; the committed golden pins the
    exact result set)."""
    from air_health_gis_tools_spark.operators.similarity import ann_topk_ivfpq
    exact = set(cosine_topk(emb, qvec, k=10).toPandas()["vec_id"])
    approx = set(ann_topk_ivfpq(emb, qvec, k=10, n_lists=8, n_probe=6,
                                refine=64).toPandas()["vec_id"])
    assert len(exact & approx) / 10 >= 0.8


def test_pq_codes_reconstruct_better_than_random(emb):
    """PQ sanity: codebook reconstruction error is far below the error of
    shuffled (mismatched) codes — the codes actually encode the vectors."""
    from air_health_gis_tools_spark.operators.similarity import (
        pq_encode, pq_train_codebooks)
    vecs = np.stack([r[0] for r in emb.select("embedding").collect()]
                    ).astype(np.float64)
    books = pq_train_codebooks(vecs, m=8, ksub=16)
    got = pq_encode(emb, books).select("vec_id", "pq_codes").toPandas()
    ids = got["vec_id"].to_numpy()
    codes = np.stack(got["pq_codes"].to_numpy())
    order = np.argsort(ids)
    codes = codes[order]
    vecs_sorted = vecs  # emb parquet is already vec_id-ordered
    dsub = vecs.shape[1] // 8
    recon = np.concatenate(
        [books[j][codes[:, j]] for j in range(8)], axis=1)
    err = ((vecs_sorted - recon) ** 2).mean()
    rng = np.random.default_rng(0)
    shuf = recon[rng.permutation(len(recon))]
    err_shuf = ((vecs_sorted - shuf) ** 2).mean()
    assert err < 0.5 * err_shuf
