"""Sketch operators (pipeline/sketches.py): HLL accuracy + register
determinism, Bloom superset-of-exact + false-positive bound, A-ES
sample weight-monotonicity, and the plan shapes the module's 100 TB
claims rest on (no gram join in the bloom probe, TakeOrderedAndProject
for the sample)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import load, two_file_stream
from xcube_spark.pipeline.curation import decontaminate
from xcube_spark.pipeline.sketches import (
    bloom_decontaminate,
    bloom_filter_build,
    hll_cardinality,
    weighted_sample,
)


def test_hll_estimate_tracks_exact_distinct(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    exact = docs.select("text").distinct().count()
    row = hll_cardinality(docs, "text", p=8).collect()[0]
    assert row.m == 256
    # m = 256 -> ~6.5% standard error; 3 sigma
    assert abs(row.estimate - exact) / exact < 0.2, (row, exact)
    # repartitioning must not change a single register (integer
    # accumulation + max are order-free)
    row2 = hll_cardinality(docs.repartition(7), "text", p=8).collect()[0]
    assert (row.estimate, row.raw_estimate, row.n_zero_registers) == \
        (row2.estimate, row2.raw_estimate, row2.n_zero_registers)


def test_hll_linear_counting_branch(spark):
    # 20 distinct values in 256 registers -> raw <= 2.5 m and V > 0,
    # so the linear-counting branch fires and is near-exact
    df = spark.range(20).select(F.col("id").cast("string").alias("v"))
    row = hll_cardinality(df, "v", p=8).collect()[0]
    assert row.n_zero_registers >= 236
    assert abs(row.estimate - 20) < 2.0


def test_hll_rejects_bad_p(spark):
    df = spark.range(5).select(F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError):
        hll_cardinality(df, "v", p=7)
    with pytest.raises(ValueError):
        hll_cardinality(df, "v", p=20)


def test_bloom_superset_of_exact_and_fp_bound(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    exact = {r.doc_id: r.n_hits
             for r in decontaminate(docs, bench, n=3).collect()}
    bloom = {r.doc_id: r.n_hits
             for r in bloom_decontaminate(docs, bench, n=3).collect()}
    assert set(exact) == set(bloom)
    # no false negatives, ever
    for d, n in exact.items():
        assert bloom[d] >= n, d
    # false positives bounded: total spurious hits stay well under
    # the theoretical per-gram rate times the gram count
    n_grams = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .count()
    )
    spurious = sum(bloom[d] - exact[d] for d in exact)
    assert spurious <= max(20, 0.02 * n_grams), (spurious, n_grams)


def test_bloom_bitmap_shape(spark):
    grams = spark.createDataFrame(
        [("a b c",), ("d e f",)], "ngram string")
    row = bloom_filter_build(grams, m_bits=1 << 10, k=3).collect()[0]
    assert len(row.bloom) == (1 << 10) // 64
    set_bits = sum(bin(w & ((1 << 64) - 1)).count("1")
                   for w in row.bloom)
    assert 1 <= set_bits <= 6  # k = 3 positions per gram, 2 grams
    with pytest.raises(ValueError):
        bloom_filter_build(grams, m_bits=1000)


def test_bloom_probe_plan_has_no_gram_join(spark, sf_dir):
    """The 100 TB contract: the corpus probe must be a broadcast of
    the ONE-row bitmap (BroadcastNestedLoopJoin), never a
    SortMergeJoin / shuffled hash join on gram strings."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    plan = bloom_decontaminate(docs, bench, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    head, _, probe_side = plan.partition("BroadcastNestedLoopJoin")
    # the final doc_id left join (against the corpus ids) may sort-
    # merge; the GRAM probe below the broadcast must not
    assert "SortMergeJoin" not in probe_side.split(
        "BroadcastExchange")[0]


def test_weighted_sample_deterministic_and_monotone(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = F.size(F.split(F.trim(F.col("text")), r"\s+")) + F.lit(1)
    a = weighted_sample(docs, w, k=25).collect()
    b = weighted_sample(docs.repartition(5), w, k=25).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    # a different seed draws a different sample
    c = weighted_sample(docs, w, k=25, seed="s1").collect()
    assert {r.doc_id for r in c} != {r.doc_id for r in a}
    # weight-monotone in expectation: the sampled docs' mean weight
    # exceeds the corpus mean (A-ES favors heavy rows)
    mean_all = docs.select(F.avg(w.cast("double"))).collect()[0][0]
    mean_sample = sum(r.weight for r in a) / len(a)
    assert mean_sample > mean_all


def test_weighted_sample_plan_is_take_ordered(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = F.size(F.split(F.trim(F.col("text")), r"\s+")) + F.lit(1)
    plan = weighted_sample(docs, w, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_cms_overestimates_and_finds_true_heavy_hitters(spark, sf_dir):
    from xcube_spark.pipeline.sketches import cms_heavy_hitters

    docs = load(spark, sf_dir, "documents")
    est = cms_heavy_hitters(docs, n=2, k=10, candidate_mod=11)
    est_map = {r.ngram: r.est_count for r in est.collect()}

    # exact bigram counts (small-sf test only)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+"))
        .alias("pos", "t"))
    from pyspark.sql import Window as W
    w = W.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        F.concat_ws(" ", F.col("t"), F.lead("t", 1).over(w))
        .alias("g"),
        F.lead("t", 1).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    exact = {r.g: r.c for r in
             bi.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc()).limit(50).collect()}

    # CMS never underestimates a probed gram
    for g, e in est_map.items():
        if g in exact:
            assert e >= exact[g], g
    # the true top bigram must be found (it certainly appears in the
    # 1-in-11 candidate sample) and its estimate is close
    top_g = max(exact, key=lambda g: exact[g])
    assert top_g in est_map
    assert est_map[top_g] <= exact[top_g] * 1.5 + 10

    # partition invariance
    est2 = cms_heavy_hitters(docs.repartition(7), n=2, k=10,
                             candidate_mod=11)
    assert [(r.ngram, r.est_count) for r in est.collect()] == \
        [(r.ngram, r.est_count) for r in est2.collect()]


def test_cms_build_state_is_bounded(spark):
    from xcube_spark.pipeline.sketches import cms_build

    grams = spark.range(5000).select(
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("ngram"))
    st = cms_build(grams, d=4, w=256)
    assert st.count() <= 4 * 256
    total = st.agg(F.sum("cnt")).collect()[0][0]
    assert total == 4 * 5000  # every occurrence updates every row
    with pytest.raises(ValueError):
        cms_build(grams, w=1000)


def test_streaming_hll_sink_matches_batch(spark, tmp_path):
    """run_incremental_hll_stream: the final register table after two
    micro-batches is bit-identical to the single-pass state; the
    estimate matches hll_cardinality over the full set."""
    from xcube_spark.pipeline.sketches import hll_estimate
    from xcube_spark.streaming.sketch_sink import (
        run_incremental_hll_stream)

    rows = [(i, f"text {i % 37}") for i in range(80)]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    stream = two_file_stream(
        spark, all_docs, str(tmp_path / "hll_src"), "doc_id < 40")
    state = run_incremental_hll_stream(
        stream, str(tmp_path / "hll_state"),
        str(tmp_path / "hll_ckpt"), col="text", p=8)
    got = hll_estimate(state, p=8).collect()[0]
    want = hll_cardinality(all_docs, "text", p=8).collect()[0]
    assert (got.estimate, got.raw_estimate, got.n_zero_registers) == \
        (want.estimate, want.raw_estimate, want.n_zero_registers)


def test_streaming_cms_sink_matches_batch(spark, tmp_path):
    """run_incremental_cms_stream: merged counters equal the
    single-pass sketch cell-for-cell (the exactly-once guard is
    load-bearing for + merges)."""
    from xcube_spark.pipeline.sketches import cms_build
    from xcube_spark.streaming.sketch_sink import (
        run_incremental_cms_stream)

    rows = [(i, f"g{i % 13}") for i in range(90)]
    grams = spark.createDataFrame(rows, "doc_id long, ngram string")
    stream = two_file_stream(
        spark, grams, str(tmp_path / "cms_src"), "doc_id < 45")
    state = run_incremental_cms_stream(
        stream, str(tmp_path / "cms_state"),
        str(tmp_path / "cms_ckpt"), d=4, w=256)
    got = {(r.row, r.pos): r.cnt for r in state.collect()}
    want = {(r.row, r.pos): r.cnt
            for r in cms_build(grams, d=4, w=256).collect()}
    assert got == want


def test_hll_overlap_tracks_exact_sets(spark, sf_dir):
    from xcube_spark.pipeline.sketches import hll_overlap

    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 3 == 0)
    row = hll_overlap(a, b, "text", p=8).collect()[0]
    na = a.select("text").distinct().count()
    nb = b.select("text").distinct().count()
    nu = a.select("text").union(b.select("text")).distinct().count()
    ni = na + nb - nu
    assert abs(row.est_a - na) / na < 0.2
    assert abs(row.est_b - nb) / nb < 0.2
    assert abs(row.est_union - nu) / nu < 0.2
    # intersection: absolute error scales with the UNION size
    assert abs(row.est_intersection - ni) < 0.25 * nu
    # identity: A overlap A == A
    same = hll_overlap(a, a, "text", p=8).collect()[0]
    assert same.est_a == same.est_b == same.est_union
    assert abs(same.est_intersection - same.est_a) < 1e-9


def test_kmv_merge_equals_recompute(spark, sf_dir):
    from xcube_spark.pipeline.sketches import (
        kmv_estimate, kmv_merge, kmv_state)

    docs = load(spark, sf_dir, "documents")
    parts = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    state = kmv_state(parts[0], "text", k=64)
    for part in parts[1:]:
        state = kmv_merge(state, part.select("text"), "text", k=64)
    got = sorted(r.w for r in state.collect())
    want = sorted(r.w for r in kmv_state(docs, "text", k=64).collect())
    assert got == want
    est = kmv_estimate(state, k=64).collect()[0]
    exact = docs.select("text").distinct().count()
    if est.n_vals < 64:
        assert est.estimate == float(exact)
    else:
        assert abs(est.estimate - exact) / exact < 0.5


def test_kmv_set_ops_identity_and_accuracy(spark, sf_dir):
    from xcube_spark.pipeline.sketches import kmv_set_ops

    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 3 == 0)
    row = kmv_set_ops(a, b, "text", k=128).collect()[0]
    na = a.select("text").distinct().count()
    nb = b.select("text").distinct().count()
    nu = a.select("text").union(b.select("text")).distinct().count()
    ni = na + nb - nu
    # coordinated-sample estimates: ~1/sqrt(k) relative error bands
    assert abs(row.est_a - na) / na < 0.35
    assert abs(row.est_b - nb) / nb < 0.35
    assert abs(row.est_union - nu) / nu < 0.35
    if ni:
        assert abs(row.est_intersection - ni) / ni < 0.6
        assert abs(row.est_jaccard - ni / nu) < 0.15
    same = kmv_set_ops(a, a, "text", k=128).collect()[0]
    assert same.est_a == same.est_b == same.est_union \
        == same.est_intersection
    assert same.est_jaccard == 1.0


def test_streaming_kmv_sink_matches_batch(spark, tmp_path):
    """run_incremental_kmv_stream: the final k-smallest table after
    two micro-batches is identical to the single-pass state."""
    from xcube_spark.pipeline.sketches import kmv_state
    from xcube_spark.streaming.sketch_sink import (
        run_incremental_kmv_stream)

    rows = [(i, f"text {i % 97}") for i in range(160)]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    stream = two_file_stream(
        spark, all_docs, str(tmp_path / "kmv_src"), "doc_id < 80")
    state = run_incremental_kmv_stream(
        stream, str(tmp_path / "kmv_state"),
        str(tmp_path / "kmv_ckpt"), col="text", k=64)
    got = sorted(r.w for r in state.collect())
    want = sorted(
        r.w for r in kmv_state(all_docs, "text", k=64).collect())
    assert got == want


def test_sample_merge_equals_recompute_and_tracks_exact(spark, sf_dir):
    from xcube_spark.pipeline.sketches import (
        sample_merge, sample_quantiles, sample_state)

    ev = load(spark, sf_dir, "events")
    parts = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    state = sample_state(parts[0], "event_id", "value", k=256)
    state = sample_merge(state, parts[1], "event_id", "value", k=256)
    got = sorted((r.w, r.value) for r in state.collect())
    want = sorted((r.w, r.value) for r in
                  sample_state(ev, "event_id", "value", k=256).collect())
    assert got == want
    row = sample_quantiles(state, qs=(0.5,)).collect()[0]
    exact = ev.agg(F.expr("percentile(value, 0.5)")).first()[0]
    spread = ev.agg(F.expr("percentile(value, 0.9)")).first()[0]
    # sample median within a generous band of the exact median
    assert abs(row.p50 - exact) < 0.35 * spread


def test_kmv_and_sample_plans_are_take_ordered(spark, sf_dir):
    """kmv_state / sample_state must lower to TakeOrderedAndProject
    (per-partition top-k + k-row driver merge) — a global Sort of the
    distinct-hash table would be the anti-pattern at corpus scale."""
    from xcube_spark.pipeline.sketches import kmv_state, sample_state

    docs = load(spark, sf_dir, "documents")
    for df in (kmv_state(docs, "text", k=64),
               sample_state(docs, "doc_id", "n_chars", k=64)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "GlobalSort" not in plan


def test_streaming_probe_sink_matches_batch_training(spark, tmp_path):
    """run_incremental_probe_stream: the moment state after two
    micro-batches is bit-identical to single-pass training, and the
    coefficients fitted from the streamed state predict exactly (the
    streaming-model-training contract; + merges need the
    exactly-once guard)."""
    from xcube_spark.pipeline.curation import (probe_fit_predict,
                                               probe_moments)
    from xcube_spark.streaming.sketch_sink import (
        run_incremental_probe_stream)

    rows = [(i, i % 7 + 1, (i * 3) % 5 + 1, 3 + 2 * (i % 7 + 1)
             + 5 * ((i * 3) % 5 + 1)) for i in range(60)]
    feats = spark.createDataFrame(
        rows, "doc_id long, x1 long, x2 long, y long")
    stream = two_file_stream(
        spark, feats, str(tmp_path / "probe_src"), "doc_id < 30")
    state = run_incremental_probe_stream(
        stream, str(tmp_path / "probe_state"),
        str(tmp_path / "probe_ckpt"))
    got = state.collect()[0].asDict()
    want = probe_moments(feats, "y", "x1", "x2").collect()[0].asDict()
    assert got == want
    # the streamed model predicts the exact linear relation
    out = probe_fit_predict(state, feats, "y", "x1", "x2").collect()
    assert all(abs(r.resid) < 1e-9 for r in out)


def test_streaming_pca_sink_matches_batch_moments(spark, tmp_path):
    """run_pca_moments_stream: the O(d^2) moment state after two
    micro-batches merges to the same statistics as one-pass batch
    accumulation (float sums: ulp tolerance), and the finalized
    per-dim stats match pca_moment_stats on everything seen."""
    import numpy as np

    from xcube_spark.pipeline.similarity import (pca_moment_stats,
                                                 pca_moments)
    from xcube_spark.streaming.sketch_sink import run_pca_moments_stream

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stream = two_file_stream(
        spark, emb, str(tmp_path / "pca_src"), "vec_id < 20")
    state = run_pca_moments_stream(
        stream, str(tmp_path / "pca_state"), str(tmp_path / "pca_ckpt"))
    row = state.collect()[0]
    n, s, g = pca_moments(emb)
    assert row.n == n
    assert np.allclose(row.s, s, rtol=0, atol=1e-9)
    assert np.allclose(np.asarray(row.g).reshape(8, 8), g,
                       rtol=0, atol=1e-9)
    # finalizing the streamed state == batch stats
    streamed = (int(row.n), np.asarray(row.s),
                np.asarray(row.g).reshape(8, 8))
    a = pca_moment_stats(emb, moments=streamed).collect()
    b = pca_moment_stats(emb).collect()
    for ra, rb in zip(sorted(a), sorted(b)):
        assert ra.dim_i == rb.dim_i
        assert abs(ra.mean_i - rb.mean_i) < 1e-12
        assert abs(ra.var_i - rb.var_i) < 1e-12


def test_bloom_merge_equals_single_pass(spark, sf_dir):
    """bloom_merge: OR of two half-benchmark bitmaps == the bitmap of
    the whole suite, bit for bit; merge is idempotent."""
    from xcube_spark.pipeline.curation import ngrams_narrow
    from xcube_spark.pipeline.sketches import (bloom_filter_build,
                                               bloom_merge)

    docs = load(spark, sf_dir, "documents")
    bench = docs.where("doc_id % 97 = 0")
    whole = bloom_filter_build(
        ngrams_narrow(bench, "text", 3), "ngram",
        m_bits=1 << 12, k=3).collect()[0]["bloom"]
    a = bloom_filter_build(
        ngrams_narrow(bench.where("doc_id % 194 = 0"), "text", 3),
        "ngram", m_bits=1 << 12, k=3)
    b = bloom_filter_build(
        ngrams_narrow(bench.where("doc_id % 194 != 0"), "text", 3),
        "ngram", m_bits=1 << 12, k=3)
    merged = bloom_merge(a, b).collect()[0]["bloom"]
    assert merged == whole
    again = bloom_merge(bloom_merge(a, b), b).collect()[0]["bloom"]
    assert again == whole  # idempotent under replay


def test_streaming_bloom_sink_matches_batch_filter(spark, tmp_path,
                                                   sf_dir):
    """run_bloom_filter_stream: the bitmap after two micro-batches is
    bit-identical to the single-pass build, and decontamination from
    the streamed filter reproduces the batch flags."""
    from xcube_spark.pipeline.curation import ngrams_narrow
    from xcube_spark.pipeline.sketches import (bloom_decontaminate,
                                               bloom_filter_build)
    from xcube_spark.streaming.sketch_sink import run_bloom_filter_stream

    docs = load(spark, sf_dir, "documents")
    bench = docs.where("doc_id % 97 = 0").select("doc_id", "text")
    stream = two_file_stream(
        spark, bench, str(tmp_path / "bloom_src"), "doc_id % 194 = 0")
    state = run_bloom_filter_stream(
        stream, str(tmp_path / "bloom_state"),
        str(tmp_path / "bloom_ckpt"), n=3, m_bits=1 << 12, k=3)
    want = bloom_filter_build(
        ngrams_narrow(bench, "text", 3), "ngram",
        m_bits=1 << 12, k=3).collect()[0]["bloom"]
    assert state.collect()[0]["bloom"] == want
    streamed_flags = sorted(
        bloom_decontaminate(docs, n=3, m_bits=1 << 12, k=3,
                            bloom=state).collect())
    batch_flags = sorted(
        bloom_decontaminate(docs, bench, n=3, m_bits=1 << 12,
                            k=3).collect())
    assert streamed_flags == batch_flags


# ---- Misra-Gries heavy hitters (round-10 third-session addition) ---------


def test_mg_heavy_hitters_bounds_and_recovery(spark):
    from pyspark.sql import Row
    from xcube_spark.pipeline.sketches import mg_heavy_hitters

    # 'hot' appears 40x spread over 4 buckets, tail tokens once each
    rows = []
    for i in range(40):
        rows.append(Row(bucket=i % 4, token="hot"))
    for i in range(60):
        rows.append(Row(bucket=i % 4, token=f"tail{i}"))
    for i in range(12):
        rows.append(Row(bucket=i % 4, token="warm"))
    tokens = spark.createDataFrame(rows)
    out = mg_heavy_hitters(tokens, k=3, top=5).collect()
    true = {"hot": 40, "warm": 12}
    by_tok = {r["token"]: r for r in out}
    assert "hot" in by_tok and by_tok["hot"]["est"] <= 40 <= by_tok["hot"]["ub"]
    # every reported token satisfies est <= true <= ub
    for r in out:
        t = true.get(r["token"], 1)
        assert r["est"] <= t <= r["ub"], r
    # the heavy item ranks first
    assert out[0]["token"] == "hot"


def test_mg_heavy_hitters_ub_covers_empty_summary_buckets(spark):
    """Regression (r10 advice): a bucket whose top-k counts all equal
    its (k+1)-th count produces NO summary rows (every s <= 0), yet a
    token may hold up to T_b there — its threshold must still be in
    the global upper bound or est <= true <= ub is violated."""
    from pyspark.sql import Row
    from xcube_spark.pipeline.sketches import mg_heavy_hitters

    rows = []
    # bucket 0: k+1 = 3 tokens with EQUAL counts (5 each) -> T_0 = 5,
    # all residuals 0, no summary rows survive from this bucket
    for tok in ("hot", "x", "y"):
        rows += [Row(bucket=0, token=tok)] * 5
    # bucket 1: hot dominates, survives with a residual
    rows += [Row(bucket=1, token="hot")] * 10
    rows += [Row(bucket=1, token="z")] * 1
    tokens = spark.createDataFrame(rows)
    out = {r["token"]: r for r in mg_heavy_hitters(tokens, k=2, top=5).collect()}
    # true('hot') = 15; bucket-0's clamp hides 5 of it.  The unsound
    # bound (thresholds only over buckets WITH summary rows) gives
    # ub = est + T_1 = 10 + 1 = 11 < 15.
    assert out["hot"]["est"] <= 15 <= out["hot"]["ub"], out["hot"]


def test_mg_summaries_error_bound(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from xcube_spark.pipeline.sketches import mg_summaries

    rows = [Row(bucket=0, token=f"t{i % 7}") for i in range(100)]
    tokens = spark.createDataFrame(rows)
    summ = mg_summaries(tokens, k=3).collect()
    assert len(summ) <= 3
    total = 100
    for r in summ:
        # clamped residual obeys the MG bound: s >= c - total/(k+1)
        assert r["t"] <= total // 4 + 1
