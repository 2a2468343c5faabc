"""Supervised classification + JL projection + LSH recall
(pipeline/classify.py, similarity.random_projection_int8,
dedup.lsh_recall_stats — the round-10 late additions)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row, functions as F

from tests.conftest import two_file_stream
from xcube_spark.pipeline.classify import knn_classify, nb_classify, nb_train
from xcube_spark.pipeline.similarity import random_projection_int8, rp_sign


def _docs(spark):
    # two cleanly separable "languages": the classifier must recover
    # the label from token statistics alone
    rows = []
    for i in range(12):
        rows.append(Row(doc_id=i, lang="aa",
                        text="alpha beta gamma alpha beta"))
    for i in range(12, 24):
        rows.append(Row(doc_id=i, lang="bb",
                        text="uno dos tres uno dos"))
    # one ambiguous-but-aa doc: majority-aa tokens
    rows.append(Row(doc_id=24, lang="aa", text="alpha uno alpha"))
    return spark.createDataFrame(rows)


def test_nb_classify_recovers_separable_labels(spark):
    out = nb_classify(_docs(spark), label_col="lang").collect()
    assert len(out) == 25
    by_id = {r["doc_id"]: r for r in out}
    for i in range(12):
        assert by_id[i]["pred"] == "aa"
    for i in range(12, 24):
        assert by_id[i]["pred"] == "bb"
    assert by_id[24]["pred"] == "aa"  # 2:1 alpha majority
    # true label rides through for accuracy computation
    assert all(r["label"] in ("aa", "bb") for r in out)


def test_nb_train_model_shapes(spark):
    priors, loglik = nb_train(_docs(spark), label_col="lang",
                              n_buckets=64)
    p = {r["label"]: r for r in priors.collect()}
    assert set(p) == {"aa", "bb"}
    assert p["aa"]["n_docs"] == 13 and p["bb"]["n_docs"] == 12
    # dense grid: exactly L x B rows, no NULL log-likelihoods
    ll = loglik.collect()
    assert len(ll) == 2 * 64
    assert all(r["ll"] is not None and r["ll"] < 0 for r in ll)


def test_nb_rejects_oversized_bucket_space(spark):
    with pytest.raises(ValueError):
        nb_classify(_docs(spark), n_buckets=5000)
    with pytest.raises(ValueError):
        nb_train(_docs(spark), n_buckets=5000)


def test_knn_classify_majority_and_tiebreak(spark):
    # corpus: 4 vectors near +x labeled 1, 4 near +y labeled 2
    rows = []
    for i in range(4):
        rows.append(Row(vec_id=100 + i, label=1,
                        embedding=[10.0 + i, 1.0 * i]))
        rows.append(Row(vec_id=200 + i, label=2,
                        embedding=[1.0 * i, 10.0 + i]))
    corpus = spark.createDataFrame(rows)
    queries = spark.createDataFrame(
        [Row(query_id=0, embedding=[20.0, 2.0]),
         Row(query_id=1, embedding=[2.0, 20.0])])
    out = {r["query_id"]: r for r in
           knn_classify(corpus, queries, k=3).collect()}
    assert out[0]["pred_label"] == 1 and out[0]["votes"] >= 2
    assert out[1]["pred_label"] == 2 and out[1]["votes"] >= 2

    # k=4 over a 2-2 split: tie -> smaller label wins deterministically
    mixed = spark.createDataFrame(
        [Row(vec_id=1, label=7, embedding=[1.0, 0.0]),
         Row(vec_id=2, label=7, embedding=[0.9, 0.1]),
         Row(vec_id=3, label=3, embedding=[0.8, 0.2]),
         Row(vec_id=4, label=3, embedding=[0.7, 0.3])])
    q = spark.createDataFrame([Row(query_id=0, embedding=[1.0, 0.1])])
    r = knn_classify(mixed, q, k=4).collect()[0]
    assert r["pred_label"] == 3 and r["votes"] == 2


def test_rp_sign_is_md5_parity():
    nib = hashlib.md5(b"3_7").hexdigest()[0]
    expect = 1 if int(nib, 16) % 2 == 0 else -1
    assert rp_sign(3, 7) == expect
    # deterministic and +-1 valued
    assert all(rp_sign(j, d) in (-1, 1)
               for j in range(4) for d in range(8))


def test_random_projection_integer_exact(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[127.0, -127.0, 63.5, 0.0]),
         Row(vec_id=1, embedding=[1.0, 2.0, 3.0, 4.0])])
    out = random_projection_int8(emb, out_dim=3, dim=4).collect()
    assert len(out) == 6
    # replay quantize + sign matrix in plain Python
    import math

    def codes(v):
        scale = max(abs(x) for x in v) / 127.0
        # Spark F.round = HALF_UP (away from zero), not banker's
        return [int(math.floor(abs(x / scale) + 0.5))
                * (1 if x >= 0 else -1) for x in v]

    for r in out:
        v = [127.0, -127.0, 63.5, 0.0] if r["vec_id"] == 0 \
            else [1.0, 2.0, 3.0, 4.0]
        c = codes(v)
        want = sum(rp_sign(r["j"], d) * c[d] for d in range(4))
        assert r["proj"] == want
    # BIGINT output column
    assert dict(random_projection_int8(emb, out_dim=2, dim=4)
                .dtypes)["proj"] == "bigint"


def test_random_projection_infers_dim(spark):
    emb = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, -2.0])])
    out = random_projection_int8(emb, out_dim=2)
    assert out.count() == 2


def test_lsh_recall_bounds(spark, sf_dir):
    from xcube_spark.pipeline.dedup import lsh_recall_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = lsh_recall_stats(docs).collect()[0]
    assert r["n_truth"] >= 0 and r["n_hit"] <= r["n_truth"]
    if r["n_truth"]:
        assert 0.0 <= r["recall"] <= 1.0 + 1e-6
        # 8 hashes / 2 bands at threshold 0.8: catch probability
        # 1-(1-s^4)^2 >= 0.77 per pair; the replicated test corpus
        # has exact duplicates, which banding always catches
        assert r["recall"] > 0.5


def test_nb_plan_has_no_python_udf(spark):
    plan = nb_classify(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nb_state_merge_equals_recompute(spark):
    """Incremental NB: state(old) + merge(new) classifies every doc
    with scores IDENTICAL to the single-pass batch classifier."""
    from xcube_spark.pipeline.classify import (nb_classify_from_state,
                                               nb_count_state, nb_merge)

    docs = _docs(spark)
    state = nb_count_state(docs.where("doc_id < 10"), label_col="lang",
                           n_buckets=64)
    merged = nb_merge(state, docs.where("doc_id >= 10"),
                      label_col="lang", n_buckets=64)
    inc = sorted(nb_classify_from_state(merged, docs, label_col="lang",
                                        n_buckets=64).collect())
    full = sorted(nb_classify(docs, label_col="lang",
                              n_buckets=64).collect())
    assert inc == full

    # state shape: sparse feature rows plus one f=-1 prior row/label
    srows = merged.collect()
    assert {r["f"] for r in srows if r["f"] < 0} == {-1}
    prior = {r["label"]: r["c"] for r in srows if r["f"] == -1}
    assert prior == {"aa": 13, "bb": 12}


def test_nb_merge_is_associative(spark):
    from xcube_spark.pipeline.classify import nb_count_state, nb_merge

    docs = _docs(spark)
    a = docs.where("doc_id < 8")
    b = docs.where("doc_id >= 8 AND doc_id < 16")
    c = docs.where("doc_id >= 16")
    left = nb_merge(nb_merge(nb_count_state(a, n_buckets=32), b,
                             n_buckets=32), c, n_buckets=32)
    right = nb_merge(nb_count_state(docs.where("doc_id < 16"),
                                    n_buckets=32), c, n_buckets=32)
    assert sorted(left.collect()) == sorted(right.collect())


def test_streaming_nb_sink_matches_batch_training(spark, tmp_path):
    """run_nb_counts_stream: the count state after two micro-batches
    is value-identical to single-pass training, and classification
    from the streamed state reproduces the batch classifier exactly
    (streaming classifier training; + merges need the exactly-once
    guard)."""
    from xcube_spark.pipeline.classify import (nb_classify,
                                               nb_classify_from_state,
                                               nb_count_state)
    from xcube_spark.streaming.sketch_sink import run_nb_counts_stream

    docs = _docs(spark).select("doc_id", "lang", "text")
    stream = two_file_stream(
        spark, docs, str(tmp_path / "nb_src"), "doc_id < 12")
    state = run_nb_counts_stream(
        stream, str(tmp_path / "nb_state"), str(tmp_path / "nb_ckpt"),
        label_col="lang", n_buckets=64)
    want = sorted(nb_count_state(docs, label_col="lang",
                                 n_buckets=64).collect())
    assert sorted(state.collect()) == want
    streamed = sorted(
        nb_classify_from_state(state, docs, label_col="lang",
                               n_buckets=64).collect())
    batch = sorted(nb_classify(docs, label_col="lang",
                               n_buckets=64).collect())
    assert streamed == batch


def test_centroid_classify_separable_and_tiebreak(spark):
    from xcube_spark.pipeline.classify import centroid_classify

    rows = []
    for i in range(4):
        rows.append(Row(vec_id=100 + i, label=1,
                        embedding=[10.0, 0.0 + i]))
        rows.append(Row(vec_id=200 + i, label=2,
                        embedding=[0.0 + i, 10.0]))
    train = spark.createDataFrame(rows)
    queries = spark.createDataFrame(
        [Row(vec_id=0, embedding=[9.0, 1.0]),
         Row(vec_id=1, embedding=[1.0, 9.0]),
         # exactly between both centroids -> tie -> lowest label
         Row(vec_id=2, embedding=[5.75, 5.75])])
    out = {r["vec_id"]: r["pred_label"] for r in
           centroid_classify(train, queries, dim=2).collect()}
    assert out[0] == 1 and out[1] == 2
    assert out[2] == 1  # equidistant tie -> min label


# ---- logistic probe (round-10 third-session addition) -------------------


def _logreg_feats(spark):
    # linearly separable in x1: positives cluster at x1 ~ 2,
    # negatives at x1 ~ -2; x2 is pure noise-free redundancy
    rows = []
    for i in range(20):
        rows.append(Row(doc_id=i, y=1.0,
                        x1=2.0 + (i % 5) * 0.1, x2=1.0))
    for i in range(20, 40):
        rows.append(Row(doc_id=i, y=0.0,
                        x1=-2.0 - (i % 5) * 0.1, x2=-1.0))
    return spark.createDataFrame(rows)


def test_logistic_probe_learns_separable(spark):
    from xcube_spark.pipeline.classify import logistic_probe

    out = logistic_probe(_logreg_feats(spark), "y", ["x1", "x2"],
                         lr=0.5, steps=12).collect()
    assert len(out) == 40
    for r in out:
        assert r["pred"] == r["y"], (r["doc_id"], r["p"])
        # confident on separable data after 12 steps
        assert (r["p"] > 0.6) == (r["y"] == 1)


def test_logistic_probe_deterministic(spark):
    from xcube_spark.pipeline.classify import logistic_probe_train

    f = _logreg_feats(spark)
    w1 = logistic_probe_train(f, "y", ["x1", "x2"], steps=4)
    w2 = logistic_probe_train(f.repartition(7), "y", ["x1", "x2"],
                              steps=4)
    assert w1 == w2  # grid-rounded trajectory, partition-independent


def test_logistic_probe_gradient_matches_numpy(spark):
    import numpy as np
    from xcube_spark.pipeline.classify import logistic_probe_train

    f = _logreg_feats(spark)
    w = logistic_probe_train(f, "y", ["x1", "x2"], lr=0.5, steps=1)
    pdf = f.toPandas()
    X = np.column_stack([np.ones(len(pdf)), pdf.x1, pdf.x2])
    p = 1.0 / (1.0 + np.exp(0.0))  # w=0 -> p=0.5 everywhere
    g = (p - pdf.y.values) @ X / len(pdf)
    expect = [round(0.0 - 0.5 * round(gi + 1e-10, 7) + 1e-10, 7)
              for gi in g]
    assert w == pytest.approx(expect, abs=2e-7)
