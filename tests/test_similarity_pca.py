"""Distributed PCA (pipeline/similarity.py): the eigen-step
properties the SQL gate can't express (emb_pca_variance covers the
one-pass moment accumulation)."""

from __future__ import annotations

import numpy as np
import pytest

from xcube_spark.pipeline.similarity import (
    pca_moments,
    pca_project,
    pca_train,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pca_components_orthonormal_and_sorted(spark, sf_dir):
    m = pca_train(_emb(spark, sf_dir), n_components=8)
    w = m["components"]
    assert np.allclose(w @ w.T, np.eye(8), atol=1e-10)
    ev = m["explained_variance"]
    assert np.all(np.diff(ev) <= 1e-12)           # descending
    assert ev.sum() <= m["total_variance"] + 1e-9  # partial spectrum


def test_pca_moments_match_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    n, s, g = pca_moments(emb)
    x = np.asarray([r.embedding for r in emb.collect()],
                   dtype=np.float64)
    assert n == x.shape[0]
    assert np.allclose(s, x.sum(axis=0), rtol=1e-12)
    assert np.allclose(g, x.T @ x, rtol=1e-12)


def test_pca_projection_variance_equals_eigvals(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    m = pca_train(emb, n_components=6)
    y = np.asarray(
        [r.pca for r in pca_project(emb, m).collect()])
    # population variance of each projected axis == its eigenvalue
    assert np.allclose(y.var(axis=0), m["explained_variance"],
                       rtol=1e-8)
    # whitening: unit variance on every axis
    yw = np.asarray(
        [r.pca for r in pca_project(emb, m, whiten=True).collect()])
    assert np.allclose(yw.var(axis=0), 1.0, rtol=1e-8)


def test_knn_recall_bounds_and_perfect_self_recall(spark):
    """knn_recall: recall is 1.0 when the approximate method IS the
    ground truth, in [0, 1] for LSH, and queries whose approximation
    returns nothing still appear (n_matched = 0)."""
    import numpy as np

    from xcube_spark.pipeline.similarity import (knn_bruteforce,
                                                 knn_lsh, knn_recall)

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding")

    perfect = knn_recall(emb, queries, k=5, approx=knn_bruteforce)
    assert all(r.recall == 1.0 and r.n_matched == 5
               for r in perfect.collect())

    lsh = {r.query_id: r for r in
           knn_recall(emb, queries, k=5, approx=knn_lsh).collect()}
    assert set(lsh) == {0, 1, 2}
    for r in lsh.values():
        assert r.n_truth == 5 and 0 <= r.n_matched <= 5
        assert abs(r.recall - round(r.n_matched / 5 + 1e-9, 6)) < 1e-9


# ---- label cohesion (round-10 third-session addition) --------------------


def test_label_cohesion_tight_vs_scattered(spark):
    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import label_cohesion

    rows = []
    # label 0: tight cluster along e1 (cohesion ~1)
    for i in range(8):
        v = [0.0] * 8
        v[0] = 100.0
        v[1] = float(i % 2)
        rows.append(Row(vec_id=i, label=0, codes=v))
    # label 1: orthogonal one-hot spread (low cohesion)
    for i in range(8):
        v = [0.0] * 8
        v[i] = 100.0
        rows.append(Row(vec_id=8 + i, label=1, codes=v))
    df = spark.createDataFrame(rows)
    out = {r["label"]: r for r in
           label_cohesion(df, dim=8).collect()}
    assert out[0]["n"] == 8 and out[1]["n"] == 8
    assert out[0]["cohesion"] > 0.99
    assert out[1]["cohesion"] < 0.5


def test_binary_quantize_and_knn_hamming(spark):
    """Sign packing is exact (known bit patterns) and Hamming top-k
    ranks by bit disagreement with id tie-break; a query vector finds
    itself at distance 0."""
    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import (binary_quantize,
                                                 knn_hamming)

    def vec(bits):
        return [1.0 if b else -1.0 for b in bits]

    base = [1] * 64
    flip3 = [1] * 64
    flip3[0] = flip3[5] = flip3[40] = 0
    flip10 = [1] * 64
    for i in range(10):
        flip10[i * 6] = 0
    rows = [Row(vec_id=0, embedding=vec(base)),
            Row(vec_id=1, embedding=vec(flip3)),
            Row(vec_id=2, embedding=vec(flip10)),
            Row(vec_id=3, embedding=vec(base))]  # exact twin of 0
    emb = spark.createDataFrame(rows)
    q = binary_quantize(emb).collect()
    packed = {r["vec_id"]: (r["w0"], r["w1"]) for r in q}
    assert packed[0] == (2**32 - 1, 2**32 - 1)
    assert packed[0] == packed[3]
    out = knn_hamming(emb, emb.where("vec_id = 0"), k=4).collect()
    got = [(r["rank"], r["vec_id"], r["hamming"]) for r in out]
    # self at 0, twin at 0 (id tie-break), then 3 flips, then 10
    assert got == [(1, 0, 0), (2, 3, 0), (3, 1, 3), (4, 2, 10)]


def test_knn_bruteforce_dot_metric_is_mips(spark):
    """metric="dot" ranks by raw inner product: a long vector beats a
    perfectly-aligned short one — the ordering cosine would invert."""
    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import knn_bruteforce

    def vec(x, y):
        return [float(x), float(y)]

    # query q = (1, 0).  a is perfectly aligned but short (dot 0.5);
    # b is 45-degrees off but long (dot 4.0).
    rows = [Row(vec_id=0, embedding=vec(1.0, 0.0)),
            Row(vec_id=1, embedding=vec(0.5, 0.0)),
            Row(vec_id=2, embedding=vec(4.0, 4.0))]
    emb = spark.createDataFrame(rows)
    q = emb.where("vec_id = 0").selectExpr("vec_id AS query_id",
                                           "embedding")
    dot = [(r["rank"], r["vec_id"], r["dot"]) for r in
           knn_bruteforce(emb, q, k=2, metric="dot",
                          score_col="dot").collect()]
    assert dot == [(1, 2, 4.0), (2, 1, 0.5)]
    cos = [(r["rank"], r["vec_id"]) for r in
           knn_bruteforce(emb, q, k=2).collect()]
    assert cos == [(1, 1), (2, 2)]  # cosine inverts the order


def test_knn_bruteforce_rejects_unknown_metric(spark):
    import pytest
    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import knn_bruteforce

    emb = spark.createDataFrame([Row(vec_id=0, embedding=[1.0])])
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="unknown metric"):
        knn_bruteforce(emb, q, metric="euclid")


def test_knn_zero_norm_query_ranks_nan_by_id(spark):
    """A zero-norm query scores NaN against every vector; Spark ranks
    NaN above every number, so with more than k candidates the top k
    are the k smallest ids (the local prune used to drop them all)."""
    import math

    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import (knn_bruteforce, knn_ivf,
                                                 train_ivf_centroids)

    rows = [Row(vec_id=0, embedding=[0.0, 0.0])] + [
        Row(vec_id=i, embedding=[float(i % 4) + 1.0, float(i % 3)])
        for i in range(1, 12)]
    emb = spark.createDataFrame(rows).coalesce(1)
    q = emb.where("vec_id = 0").selectExpr("vec_id AS query_id",
                                           "embedding")
    cents = train_ivf_centroids(emb, k=2, iterations=2)
    for out in (knn_bruteforce(emb, q, k=3),
                knn_ivf(emb, q, cents, k=3, n_probe=2)):
        got = sorted((r["rank"], r["vec_id"], r["cosine"])
                     for r in out.collect())
        assert [(r, v) for r, v, _ in got] == [(1, 1), (2, 2), (3, 3)]
        assert all(math.isnan(c) for _, _, c in got)


def test_knn_ivfpq_rerank_orders_by_exact_distance(spark):
    """The re-rank stage must return candidates ordered by EXACT
    squared L2 (coarse pq_d2 order may differ), and its result set
    must be a subset of the coarse candidate set."""
    import numpy as np
    from pyspark.sql import Row
    from xcube_spark.pipeline.similarity import (knn_ivfpq,
                                                 knn_ivfpq_rerank)

    rng = np.arange(40 * 64, dtype=np.float64).reshape(40, 64)
    vecs = np.cos(rng * 0.37) + 0.01 * (rng[:, :1] * 0.0 + np.arange(40)[:, None])
    rows = [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
            for i in range(40)]
    emb = spark.createDataFrame(rows)
    q = emb.where("vec_id < 2").selectExpr("vec_id AS query_id",
                                           "embedding")
    coarse = knn_ivfpq(emb, q, k=15, n_cells=4, n_probe=2,
                       m=4, dsub=16, ksub=8)
    rer = knn_ivfpq_rerank(emb, q, k=5, k_coarse=15, n_cells=4,
                           n_probe=2, m=4, dsub=16, ksub=8)
    cand = {}
    for r in coarse.collect():
        cand.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in rer.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["d2"]))
    for qid, lst in got.items():
        lst.sort()
        ids = [v for _, v, _ in lst]
        assert set(ids) <= cand[qid]          # subset of coarse set
        # exact d2 recomputed in numpy must be non-decreasing in rank
        d2s = [float(((vecs[v] - vecs[qid]) ** 2).sum()) for v in ids]
        assert all(a <= b + 1e-9 for a, b in zip(d2s, d2s[1:])), d2s


def test_knn_bruteforce_tie_break_deterministic(spark):
    """Duplicate embeddings produce exact cosine ties at the k
    boundary; the pruned plan must return the same smallest-id winners
    as the global (cosine desc, id asc) ranking."""
    from xcube_spark.pipeline.similarity import knn_bruteforce

    # ids 10..17 all share one vector (exact ties); ids 1-2 score lower
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10, 18)]
    rows += [(1, [4.0, 3.0, 2.0, 1.0]), (2, [-1.0, -2.0, -3.0, -4.0])]
    # adversarial order: descending ids first, single partition so one
    # Arrow batch sees every tied row at once
    rows.sort(key=lambda r: -r[0])
    corpus = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>").coalesce(1)
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0])], "query_id int, embedding array<double>")

    out = knn_bruteforce(corpus, queries, k=4).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [10, 11, 12, 13]
    assert all(r["cosine"] == pytest.approx(1.0) for r in out)
