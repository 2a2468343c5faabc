"""Streaming sketch maintenance: HyperLogLog registers and count-min
counters as foreachBatch state sinks.

Each sink is a fold run by :mod:`xcube_spark.streaming.dedup_sink`'s
protocol (atomic versioned publish + replay guard; one state directory
per checkpoint), but the state here is strictly sketch-sized — m
registers / d*w counters — so a stream can summarize an unbounded
corpus with kilobytes of state and O(batch) work per micro-batch.
Register max-merge is idempotent and counter add-merge is guarded by
the batch-id pointer, so both sinks are exactly-once.

Merging is value-exact, not approximate-exact: the published sketch
after any sequence of micro-batches is bit-identical to the sketch of
the concatenated stream (max/+ are associative and commutative and the
hashing is md5-deterministic) — pinned by the batching-invariance
tests and by the incremental gate queries whose oracle is the
single-pass recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from xcube_spark.pipeline.sketches import cms_merge, hll_merge
from xcube_spark.streaming.dedup_sink import _versioned_state_stream

HLL_STATE_SCHEMA = "reg BIGINT, rho INT"
CMS_STATE_SCHEMA = "row INT, pos BIGINT, cnt BIGINT"


def run_incremental_hll_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str = "text",
    p: int = 8,
) -> DataFrame:
    """Drain a streaming DataFrame into an HLL register state with
    ``Trigger.AvailableNow``; returns the final register table.
    Replayed batches are skipped via the published-version guard
    (max-merge is idempotent anyway, but the guard keeps the
    version history linear)."""
    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, HLL_STATE_SCHEMA,
        lambda state, batch_df: hll_merge(state, batch_df, col, p))


def run_incremental_cms_stream(
    gram_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    gram_col: str = "ngram",
    d: int = 4,
    w: int = 1 << 10,
) -> DataFrame:
    """Drain a streaming DataFrame of gram occurrences into a CMS
    counter state.  Counter addition is NOT idempotent, so the
    version guard is load-bearing here: a replayed batch must not
    double-count (the dedup-sink exactly-once argument)."""
    return _versioned_state_stream(
        gram_stream, state_dir, checkpoint_dir, CMS_STATE_SCHEMA,
        lambda state, batch_df: cms_merge(state, batch_df, gram_col,
                                          d=d, w=w))


KMV_STATE_SCHEMA = "w BIGINT"


def run_incremental_kmv_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str = "text",
    k: int = 128,
) -> DataFrame:
    """Drain a streaming DataFrame into a KMV k-minimum-values state
    with ``Trigger.AvailableNow``; returns the final ``w`` table
    (<= k rows).  The k-smallest-set merge is idempotent, so replays
    are harmless; the published-version guard keeps the version
    history linear anyway."""
    from xcube_spark.pipeline.sketches import kmv_merge

    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, KMV_STATE_SCHEMA,
        lambda state, batch_df: kmv_merge(state, batch_df, col, k))


PROBE_STATE_SCHEMA = ("n BIGINT, s1 BIGINT, s2 BIGINT, s11 BIGINT, "
                      "s12 BIGINT, s22 BIGINT, sy BIGINT, s1y BIGINT, "
                      "s2y BIGINT")


def run_incremental_probe_stream(
    feat_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    y_col: str = "y",
    x1_col: str = "x1",
    x2_col: str = "x2",
) -> DataFrame:
    """Drain a streaming DataFrame of (y, x1, x2) feature rows into
    the OLS probe's one-row moment state (pipeline/curation.py
    probe_moments/probe_merge) — streaming MODEL TRAINING with
    kilobytes of state: the model after any sequence of micro-batches
    is bit-identical to training on the concatenated stream (integer
    moment sums are associative/commutative).  Moment addition is NOT
    idempotent, so the published-version guard is load-bearing
    (the CMS exactly-once argument)."""
    from xcube_spark.pipeline.curation import probe_merge

    return _versioned_state_stream(
        feat_stream, state_dir, checkpoint_dir, PROBE_STATE_SCHEMA,
        lambda state, batch_df: probe_merge(state, batch_df, y_col,
                                            x1_col, x2_col))


PCA_STATE_SCHEMA = "n BIGINT, s ARRAY<DOUBLE>, g ARRAY<DOUBLE>"


def run_pca_moments_stream(
    emb_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Drain a streaming DataFrame of embedding rows into the PCA
    sufficient-statistics state (pipeline/similarity.py pca_moments /
    pca_moments_merge) — streaming covariance/PCA maintenance with
    O(d^2) state: each micro-batch contributes one moment triple and
    the merged state finalizes to the same per-dimension statistics
    (and the same eigenbasis) as batch training on everything seen.
    Moment addition is NOT idempotent, so the published-version guard
    is load-bearing (the CMS exactly-once argument).  The
    drift-monitoring shape: re-fit the rotation from kilobytes of
    state at any watermark, never rescan the corpus."""
    import numpy as np

    from xcube_spark.pipeline.similarity import (pca_moments,
                                                 pca_moments_merge)

    def fold(state: DataFrame, batch_df: DataFrame) -> DataFrame | None:
        m = None if batch_df.isEmpty() else pca_moments(batch_df, vec_col)
        prev = state.collect()
        if prev:
            row = prev[0]
            d = len(row.s)
            pm = (int(row.n), np.asarray(row.s),
                  np.asarray(row.g).reshape(d, d))
            m = pm if m is None else pca_moments_merge(pm, m)
        if m is None:
            return None  # empty first batch: nothing to publish
        n, s, g = m
        return batch_df.sparkSession.createDataFrame(
            [(int(n), [float(x) for x in s],
              [float(x) for x in g.reshape(-1)])], PCA_STATE_SCHEMA)

    return _versioned_state_stream(
        emb_stream, state_dir, checkpoint_dir, PCA_STATE_SCHEMA, fold)


def run_nb_counts_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    label_col: str = "lang",
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Drain a streaming DataFrame of labeled documents into the
    Naive Bayes count state (pipeline/classify.py nb_count_state /
    nb_merge) — streaming CLASSIFIER training with <= L*(B+1) rows of
    state: the model after any sequence of micro-batches is
    value-identical to training on the concatenated stream (integer
    count sums are associative/commutative), so
    ``nb_classify_from_state`` over the published state reproduces
    the batch classifier exactly.  Count addition is NOT idempotent,
    so the published-version guard is load-bearing (the CMS
    exactly-once argument)."""
    from xcube_spark.pipeline.classify import (NB_STATE_SCHEMA,
                                               nb_merge)

    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, NB_STATE_SCHEMA,
        lambda state, batch_df: nb_merge(
            state, batch_df, label_col=label_col, n_buckets=n_buckets,
            text_col=text_col))


BLOOM_STATE_SCHEMA = "bloom ARRAY<BIGINT>"


def run_bloom_filter_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Drain a streaming DataFrame of benchmark documents into ONE
    Bloom bitmap row (pipeline/sketches.py bloom_filter_build /
    bloom_merge) — the streaming decontamination-filter maintenance
    shape: eval suites arrive over time, the published bitmap is
    always the filter of everything seen, and corpus shards probe it
    broadcast (bloom_decontaminate(bloom=...)).  Bit-OR merge is
    idempotent, so replays are harmless even without the version
    guard."""
    from xcube_spark.pipeline.curation import ngrams_narrow
    from xcube_spark.pipeline.sketches import (bloom_filter_build,
                                               bloom_merge)

    def fold(state: DataFrame, batch_df: DataFrame) -> DataFrame:
        fresh = bloom_filter_build(
            ngrams_narrow(batch_df, text_col, n), "ngram",
            m_bits=m_bits, k=k)
        return fresh if state.isEmpty() else bloom_merge(state, fresh)

    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, BLOOM_STATE_SCHEMA, fold)
