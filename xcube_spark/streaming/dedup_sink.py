"""Streaming incremental dedup — foreachBatch state maintenance.

Connects Structured Streaming to ``pipeline/dedup.py``'s incremental
contract: a stream of new documents updates the persisted exact-dedup
state (digest -> canonical_id, group_size) once per micro-batch, so
the dedup index is always current WITHOUT ever rescanning the
processed corpus.  This is the streaming-append twin of the batch
`doc_incremental_dedup` equivalence query.

State storage here is versioned parquet directories with a pointer
file (atomic on a local/posix store: the pointer is os.replace'd).
On a cluster the state would live in a transactional keyed table
(bucketed by digest, per write_bucketed_table, so each batch's merge
join is bucket-local); the merge algebra is identical.

Every sink here and in :mod:`xcube_spark.streaming.sketch_sink` runs
one exactly-once protocol (:func:`_versioned_state_stream`).  One state
directory belongs to one checkpoint: a fresh checkpoint restarts batch
ids at 0, so its batches up to the published id are skipped as
replays and their data is dropped without an error.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xcube_spark.pipeline.dedup import incremental_exact_dedup

STATE_SCHEMA = T.StructType([
    T.StructField("digest", T.StringType()),
    T.StructField("canonical_id", T.LongType()),
    T.StructField("group_size", T.LongType()),
])


def _pointer(state_dir: str) -> str:
    return os.path.join(state_dir, "_CURRENT")


def _current_version(state_dir: str) -> int | None:
    """Batch id of the last published state, or None before batch 0."""
    ptr = _pointer(state_dir)
    if os.path.exists(ptr):
        with open(ptr) as f:
            return int(f.read().strip().lstrip("v"))
    return None


def _read_state(spark: SparkSession, state_dir: str,
                schema: T.StructType | str) -> DataFrame:
    version = _current_version(state_dir)
    if version is not None:
        return spark.read.parquet(os.path.join(state_dir, f"v{version}"))
    return spark.createDataFrame([], schema)


def read_dedup_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current state, or an empty frame before the first batch."""
    return _read_state(spark, state_dir, STATE_SCHEMA)


def _swap_pointer(state_dir: str, batch_id: int) -> None:
    tmp = _pointer(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"v{batch_id}")
    os.replace(tmp, _pointer(state_dir))  # atomic pointer swap


def _drain_exactly_once(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    apply: Callable[[DataFrame, int], bool],
) -> None:
    """Drain ``stream`` with ``Trigger.AvailableNow``; per micro-batch
    above the ``state_dir/_CURRENT`` id, run ``apply(batch_df,
    batch_id)`` and swap the pointer to the batch when it returns
    True.  Ids at or below it are replays (crash after the swap,
    before the checkpoint commit) and are skipped; under a new
    checkpoint they hold new data, which is dropped."""
    os.makedirs(state_dir, exist_ok=True)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        applied = _current_version(state_dir)
        if applied is not None and applied >= batch_id:
            return  # replayed batch already folded in
        if apply(batch_df, batch_id):
            _swap_pointer(state_dir, batch_id)

    (stream.writeStream.foreachBatch(upsert)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def _versioned_state_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    fold: Callable[[DataFrame, DataFrame], DataFrame | None],
) -> DataFrame:
    """Fold each new micro-batch into the current version (or an
    empty frame of ``schema``) with ``fold(state, batch_df)``, write
    the result as ``v{batch_id}`` (``None`` writes nothing) and return
    the drained state.  One state directory belongs to one checkpoint
    (see :func:`_drain_exactly_once`)."""

    def apply(batch_df: DataFrame, batch_id: int) -> bool:
        state = fold(_read_state(batch_df.sparkSession, state_dir, schema),
                     batch_df)
        if state is None:
            return False
        state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}"))
        return True

    _drain_exactly_once(stream, state_dir, checkpoint_dir, apply)
    return _read_state(stream.sparkSession, state_dir, schema)


def run_incremental_dedup_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Drain ``doc_stream`` (a streaming DataFrame of documents) into
    the dedup state with ``Trigger.AvailableNow``; returns the final
    state DataFrame.

    Each micro-batch costs one batch-sized shuffle plus the
    digest-keyed merge join — independent of how much corpus the
    state already summarizes.  foreachBatch alone gives at-least-once
    delivery: after a crash between the publish and the checkpoint
    commit, Spark replays the batch, and because
    ``incremental_exact_dedup`` ADDS group counts, re-merging an
    already-applied batch would double-count.  The batch-id guard
    (:func:`_drain_exactly_once`) skips a replayed batch whose id is
    already (or older than) the published version — the published
    state is exactly the post-batch state the first attempt wrote."""
    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, STATE_SCHEMA,
        lambda state, batch_df: incremental_exact_dedup(
            state, batch_df, text_col=text_col, id_col=id_col))


def run_incremental_near_dedup_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    num_hashes: int = 8,
    num_bands: int = 2,
    min_agree: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Near-dup twin of :func:`run_incremental_dedup_stream`: each
    micro-batch folds into the minhash signature state via
    ``incremental_near_dedup`` (earlier-any contract — see
    pipeline/dedup.py), with the same versioned-parquet publication
    and replayed-batch guard.  Re-merging a replayed batch would
    duplicate its signature rows, so the exactly-once pointer guard is
    load-bearing here too."""
    from xcube_spark.pipeline.dedup import incremental_near_dedup

    schema = T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(f"h{j}", T.StringType())
           for j in range(num_hashes)]
        + [T.StructField("is_dup", T.BooleanType())])
    return _versioned_state_stream(
        doc_stream, state_dir, checkpoint_dir, schema,
        lambda state, batch_df: incremental_near_dedup(
            state, batch_df, k=k, num_hashes=num_hashes,
            num_bands=num_bands, min_agree=min_agree,
            text_col=text_col, id_col=id_col))


def run_incremental_near_dedup_stream_bucketed(
    doc_stream: DataFrame,
    table_name: str,
    marker_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    num_hashes: int = 8,
    num_bands: int = 2,
    min_agree: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 32,
):
    """Near-dup sink over the BUCKETED state store (r7): each
    micro-batch folds into :class:`~xcube_spark.pipeline.dedup.
    NearDupStateStore` — signatures bucketed by doc id, band
    projection bucketed by band key — so the per-batch merge joins a
    co-located state instead of re-projecting and shuffling it (the
    scale path for a state much larger than any batch).

    The store is append-only, so a replayed batch would double its
    rows.  Two guards give exactly-once: the atomic applied-batch
    pointer (``marker_dir/_CURRENT``) skips fully-applied batches,
    and the store's ``__batch``-tagged merge anti-joins rows a
    crashed attempt already appended — covering the window between
    the two per-table appends and the marker write (ADVICE r7).
    """
    from xcube_spark.pipeline.dedup import NearDupStateStore

    store = NearDupStateStore(
        doc_stream.sparkSession, table_name, k=k,
        num_hashes=num_hashes, num_bands=num_bands,
        min_agree=min_agree, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets)

    def apply(batch_df: DataFrame, batch_id: int) -> bool:
        store.merge_batch(batch_df, batch_id=batch_id)
        return True

    _drain_exactly_once(doc_stream, marker_dir, checkpoint_dir, apply)
    return store
