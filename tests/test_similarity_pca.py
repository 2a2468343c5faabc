"""pipeline/similarity.py: the kNN kernels' contracts (ties, NaN
scores, NULL vectors, column names) and near-dup pairs, plus the
distributed-PCA eigen-step properties the SQL gate can't express
(emb_pca_variance covers the one-pass moment accumulation)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

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


def test_embedding_near_dup_pairs_duplicate_ids_no_self_pairs(spark):
    """Duplicate id values in the corpus must not produce id_a == id_b
    rows (the oracle's a.vec_id < b.vec_id predicate excludes them);
    distinct-id near-dup pairs are still emitted."""
    from xcube_spark.pipeline.similarity import embedding_near_dup_pairs

    base = [float(i) for i in range(64)]
    near = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    far = [float(63 - i) for i in range(64)]
    rows = [(1, base), (1, near),   # same id, near-identical vectors
            (2, near), (3, far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, threshold=0.9).collect()
    assert all(r.id_a != r.id_b for r in out)
    assert any({r.id_a, r.id_b} == {1, 2} for r in out)


def test_embedding_near_dup_pairs_cosine_is_dot_over_norms(spark):
    """Emitted cosine must equal dot/(|a||b|) computed dot-first (the
    oracle's op shape), not the pre-normalized-rows rounding."""
    import numpy as np

    from xcube_spark.pipeline.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    # tight cluster: same LSH bucket, high pairwise cosines
    vecs = rng.normal(size=(6, 64)) * 0.01 + 3.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, threshold=0.5).collect()
    assert out
    for r in out:
        a, b = vecs[r.id_a], vecs[r.id_b]
        expect = (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
        # gemm vs 1-D-dot accumulation still differ in the last ulp;
        # the op SHAPE (dot first, divide once) is the contract and
        # the 6-decimal oracle rounding absorbs the remainder
        assert abs(r.cosine - expect) < 1e-12, (r.id_a, r.id_b)


def test_knn_ivf_probe_selection_matches_assignment_kernel(spark):
    """Probe selection and cell assignment must use the SAME distance
    op order (_np_pair_d2): with n_probe=1 every query's own nearest
    centroid (per _np_pair_d2) must be the probed cell, so a corpus
    vector equal to the query is always found."""
    import numpy as np

    from xcube_spark.pipeline.similarity import knn_ivf

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(c, [float(x) for x in vecs[c * 10]]) for c in range(4)],
        "vec_id long, embedding array<double>")
    # query vectors sit exactly ON corpus vectors (not the centroids)
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in vecs[i * 7 + 1]]) for i in range(5)],
        "query_id long, embedding array<double>")
    out = knn_ivf(corpus, queries, cents, k=1, n_probe=1).collect()
    got = {r.query_id: r.vec_id for r in out}
    assert got == {100 + i: i * 7 + 1 for i in range(5)}


def test_knn_recall_forwards_column_names(spark):
    """Advice r9: knn_recall forwarded id/vec column kwargs to the
    exact ground truth but called approx(corpus, queries, k) bare, so
    non-default column names failed or mis-joined on the approx side."""
    from xcube_spark.pipeline.similarity import knn_bruteforce, knn_recall

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "my_id long, my_vec array<float>")
    queries = spark.createDataFrame(
        [(100, [3.0, 1.0])], "my_qid long, my_vec array<float>")
    rec = knn_recall(
        corpus, queries, k=3, approx=knn_bruteforce,
        id_col="my_id", vec_col="my_vec", query_id_col="my_qid",
    ).collect()
    # approx == exact here, so recall is exactly 1.0 for the query
    assert len(rec) == 1
    assert rec[0].recall == pytest.approx(1.0)


def test_knn_bruteforce_score_col_follows_metric(spark):
    from xcube_spark.pipeline.similarity import knn_bruteforce

    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]),
         Row(vec_id=1, embedding=[0.5, 0.0]),
         Row(vec_id=2, embedding=[2.0, 0.0])])
    q = spark.createDataFrame([Row(query_id=0, embedding=[1.0, 0.0])])
    dot_cols = knn_bruteforce(emb, q, k=2, metric="dot").columns
    assert "dot" in dot_cols and "cosine" not in dot_cols
    cos_cols = knn_bruteforce(emb, q, k=2).columns
    assert "cosine" in cos_cols
    # explicit score_col still wins
    named = knn_bruteforce(emb, q, k=2, metric="dot", score_col="ip")
    assert "ip" in named.columns


@pytest.mark.parametrize("kernel",
                         ["bruteforce", "lsh", "ivf", "pq", "ivfpq"])
def test_knn_null_vectors_are_never_candidates(spark, kernel):
    """A corpus row with a NULL vector is never a candidate and a query
    with a NULL vector returns no rows; neither raises.  Every kernel
    returns exactly what it returns once those rows are removed."""
    from xcube_spark.pipeline import similarity as sim

    vecs = np.random.default_rng(5).normal(size=(40, 64))
    null_id = 5  # inside the PQ / IVF-PQ model samples
    corpus = spark.createDataFrame(
        [(i, None if i == null_id else [float(x) for x in vecs[i]])
         for i in range(40)],
        "vec_id long, embedding array<double>").coalesce(1)
    queries = spark.createDataFrame(
        [(q, None if q == 2 else [float(x) for x in vecs[q]])
         for q in (1, 2, 3)],
        "query_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(c, [float(x) for x in vecs[10 * c + 1]]) for c in range(4)],
        "vec_id long, embedding array<double>")
    run = {
        "bruteforce": lambda c, q: sim.knn_bruteforce(c, q, k=40),
        "lsh": lambda c, q: sim.knn_lsh(c, q, k=40, n_planes=1),
        "ivf": lambda c, q: sim.knn_ivf(c, q, cents, k=40, n_probe=4),
        "pq": lambda c, q: sim.knn_pq(c, q, k=40),
        "ivfpq": lambda c, q: sim.knn_ivfpq(c, q, k=40, n_cells=4,
                                            n_probe=4, ksub=8),
    }[kernel]

    def rows(df):
        return sorted((r[0], r[1], r[3], r[2]) for r in df.collect())

    got = rows(run(corpus, queries))
    want = rows(run(corpus.where(f"vec_id != {null_id}"),
                    queries.where("query_id != 2")))
    assert {g[0] for g in got} == {1, 3}
    assert null_id not in {g[1] for g in got}
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert [g[3] for g in got] == pytest.approx([w[3] for w in want])
