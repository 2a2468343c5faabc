"""Pins for the round-9 verdict / advice fixes (applied in round 10).

Each test locks one fix so it cannot silently regress:
- verdict #3: read_events_stream must not leak the legacy nanos conf
- advice: bm25/dsir release their persisted intermediates
"""

from __future__ import annotations


def test_read_events_stream_does_not_leak_nanos_conf(spark, sf_dir):
    """Verdict r9 #3: the streaming footer probe set
    spark.sql.legacy.parquet.nanosAsLong session-wide with no restore
    (the batch path got the scoped fix in r8); on Spark 4 the native
    nanos read needs no conf at all."""
    from xcube_spark.streaming.events import read_events_stream

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    assert spark.conf.get(conf, None) == before


def test_bm25_and_dsir_release_persisted_intermediates(spark, sf_dir):
    """Advice r9 (re-pinned for the r12 optimization round): repeated
    invocations of bm25/dsir must not accumulate persisted RDDs in a
    long-lived session.  bm25_topk's one-scan candidate persist and
    any dsir within-invocation persist are released by the weakref
    finalizer (tie_cache_lifetime) when the caller drops the result —
    so after dropping results and collecting garbage, the
    persisted-RDD set returns to its starting level."""
    import gc

    from xcube_spark.queries import load_all

    sc = spark.sparkContext
    qs = load_all()

    def cached_rdd_count():
        return sc._jsc.getPersistentRDDs().size()

    gc.collect()
    start = cached_rdd_count()
    for name in ("doc_bm25_topk", "doc_dsir_weights"):
        for _ in range(3):
            qs[name].fn(spark, sf_dir).collect()
        # results are not retained: every within-invocation persist
        # must be released once its result is garbage-collected
        gc.collect()
        assert cached_rdd_count() <= start, (
            f"{name} grew the persisted-RDD set on repeat invocation")
