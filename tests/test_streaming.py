"""Streaming tests: each drained AvailableNow stream must equal its
batch twin over the same finite data (exactly-once), plus watermark /
state-contract unit checks."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import two_file_stream
from xcube_spark.pipeline.dedup import NearDupStateStore
from xcube_spark.queries import tbl
from xcube_spark.streaming import dedup_sink, sketch_sink
from xcube_spark.streaming.events import (
    read_events_stream,
    run_stream_to_table,
    session_window_stats,
    streaming_dedup,
    windowed_stats,
)
from xcube_spark.streaming.stateful import running_user_totals


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_equals_batch(spark, sf_dir):
    stream = windowed_stats(read_events_stream(spark, sf_dir), window="1 day")
    got = run_stream_to_table(stream, output_mode="complete")

    ev = tbl(spark, sf_dir, "events")
    want = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("value"), 6).alias("value_mean"),
             F.round(F.sum("value"), 4).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "value_mean", "value_sum")
    )
    cols = ("window_start", "event_type", "n", "value_mean", "value_sum")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_session_window_equals_batch(spark, sf_dir):
    stream = session_window_stats(read_events_stream(spark, sf_dir),
                                  gap="30 minutes")
    got = run_stream_to_table(stream, output_mode="complete")

    ev = tbl(spark, sf_dir, "events")
    want = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("value_sum"))
        .select("user_id", F.col("s.start").alias("session_start"),
                "n_events", "value_sum")
    )
    cols = ("user_id", "session_start", "n_events", "value_sum")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_streaming_dedup_matches_distinct(spark, sf_dir):
    stream = streaming_dedup(read_events_stream(spark, sf_dir),
                             keys=["user_id", "event_type"], watermark=None)
    got = run_stream_to_table(stream, output_mode="append") \
        .select("user_id", "event_type")
    want = tbl(spark, sf_dir, "events").select("user_id", "event_type") \
        .distinct()
    assert _rows(got, "user_id", "event_type") == \
        _rows(want, "user_id", "event_type")


def test_stateful_totals_equal_batch(spark, sf_dir):
    stream = running_user_totals(read_events_stream(spark, sf_dir))
    got = run_stream_to_table(stream, output_mode="update")
    want = (
        tbl(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4)
             .alias("value_sum"))
    )
    cols = ("user_id", "n_events", "value_sum")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_append_stream_to_cube(spark, tmp_path_factory):
    """Micro-batch time-slice append: stream slices into a partitioned
    cube and verify partition-level replace semantics."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.streaming.writer import append_stream_to_cube

    tmp = tmp_path_factory.mktemp("swriter")
    grid = CubeGrid(width=8, height=4, time_periods=3, x_res=45.0, y_res=45.0)
    src_path = str(tmp / "incoming")
    cube_path = str(tmp / "cube")

    # two "granules" arriving as flat files (the file source lists
    # files, not nested parquet dataset directories)
    import glob
    import os
    import shutil

    cube = new_cube(spark, grid, {"v": 1.0})
    os.makedirs(src_path)

    def land(df, name):
        staging = str(tmp / f"stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        shutil.move(part, f"{src_path}/{name}.parquet")

    land(cube.where(F.col("t_i") < 2), "g1")
    land(cube.where(F.col("t_i") == 2), "g2")

    stream = (
        spark.readStream.schema(cube.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_path)
    )
    q = append_stream_to_cube(stream, cube_path, str(tmp / "ckpt"))
    q.awaitTermination()

    back = spark.read.parquet(cube_path)
    assert back.count() == grid.size
    assert back.select("t_i").distinct().count() == 3

    # replace one slice through the same sink
    repl_dir = str(tmp / "repl")
    os.makedirs(repl_dir)
    repl = new_cube(spark, grid, {"v": 9.0}).where(F.col("t_i") == 1)
    staging = str(tmp / "stage_r1")
    repl.coalesce(1).write.parquet(staging)
    shutil.move(glob.glob(f"{staging}/part-*.parquet")[0],
                f"{repl_dir}/r1.parquet")
    stream2 = (
        spark.readStream.schema(cube.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(repl_dir)
    )
    q2 = append_stream_to_cube(stream2, cube_path, str(tmp / "ckpt2"),
                               mode="replace")
    q2.awaitTermination()
    back2 = spark.read.parquet(cube_path)
    assert back2.count() == grid.size
    assert back2.where("t_i = 1").agg(F.min("v")).collect()[0][0] == 9.0
    assert back2.where("t_i = 0").agg(F.max("v")).collect()[0][0] == 1.0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F
    from xcube_spark.queries import tbl
    from xcube_spark.streaming.events import (
        read_events_stream, run_stream_to_table, stream_stream_interval_join)

    out = run_stream_to_table(
        stream_stream_interval_join(read_events_stream(spark, sf_dir)),
        output_mode="append",
    )
    got = {(r.event_id, r.event_id_r) for r in out.collect()}

    ev = tbl(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id"), F.col("user_id"), F.col("ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("eid_r"), F.col("user_id").alias("uid_r"),
        F.col("ts").alias("ts_r"))
    batch = c.join(p, (F.col("user_id") == F.col("uid_r"))
                   & (F.col("ts_r") >= F.col("ts"))
                   & (F.col("ts_r") <= F.col("ts")
                      + F.expr("INTERVAL 1 HOUR")))
    want = {(r.event_id, r.eid_r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """A document stream drained through the foreachBatch dedup sink
    yields exactly the batch-recomputed state, across micro-batches."""
    from xcube_spark.pipeline.dedup import exact_dedup_state
    from xcube_spark.streaming.dedup_sink import (
        run_incremental_dedup_stream)

    rows = [(i, f"text {i % 7}") for i in range(60)]  # 7 digest groups
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    # two files -> two micro-batches
    stream = two_file_stream(
        spark, all_docs, str(tmp_path / "docs_src"), "doc_id < 30")
    final = run_incremental_dedup_stream(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"))
    got = {r.digest: (r.canonical_id, r.group_size)
           for r in final.collect()}
    want = {r.digest: (r.canonical_id, r.group_size)
            for r in exact_dedup_state(all_docs).collect()}
    assert got == want and len(got) == 7


# ---- streaming granule ingest (streaming/granules.py) ------------------


def test_streaming_granule_ingest_incremental(spark, tmp_path):
    """Two arrival waves of netCDF-4 granules: each availableNow pass
    scans only the new files, the virtual cube grows along time, and
    values match the batch-virtualized truth exactly."""
    import numpy as np

    from xcube_spark.sources.hdf5 import write_hdf5
    from xcube_spark.sources.zarrio import open_kerchunk_cube
    from xcube_spark.streaming.granules import (read_granule_state,
                                                run_granule_ingest_stream)

    watch = tmp_path / "incoming"
    watch.mkdir()
    refs = str(tmp_path / "virtual.json")
    rng = np.random.RandomState(9)
    h, w = 6, 8
    lat = np.linspace(-30, 30, h)
    lon = np.linspace(-60, 60, w)
    truth = {}

    def granule(g):
        t = np.array([g * 86400.0])
        A = rng.rand(1, h, w)
        truth[g] = A[0]
        write_hdf5(str(watch / f"g{g}.nc"), {
            "time": {"data": t, "dims": ["time"],
                     "attrs": {"units": "seconds since 2021-01-01"}},
            "lat": {"data": lat, "dims": ["lat"]},
            "lon": {"data": lon, "dims": ["lon"]},
            "A": {"data": A, "dims": ["time", "lat", "lon"],
                  "chunks": (1, 3, 4)},
        })

    def run():
        q = run_granule_ingest_stream(
            spark, str(watch), refs, str(tmp_path / "state"),
            str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    granule(0)
    granule(1)
    run()
    cube = open_kerchunk_cube(spark, refs)
    assert cube.count() == 2 * h * w

    granule(2)
    run()
    cube = open_kerchunk_cube(spark, refs)
    rows = cube.collect()
    assert len(rows) == 3 * h * w
    assert max(abs(r["A"] - truth[r["t_i"]][r["y_i"], r["x_i"]])
               for r in rows) == 0.0
    # state holds exactly one scan per granule (idempotent appends)
    st = read_granule_state(spark, str(tmp_path / "state"))
    assert st.where(st.kind == "axes").count() == 3


def test_streaming_granule_quarantine(spark, tmp_path):
    """A granule with an incompatible grid and one that is not HDF5 at
    all are quarantined BEFORE the state append: the stream keeps
    running, the state stays clean, later good granules still land."""
    import numpy as np

    from xcube_spark.sources.hdf5 import write_hdf5
    from xcube_spark.sources.zarrio import open_kerchunk_cube
    from xcube_spark.streaming.granules import (read_granule_quarantine,
                                                read_granule_state,
                                                run_granule_ingest_stream)

    watch = tmp_path / "incoming"
    watch.mkdir()
    refs = str(tmp_path / "virtual.json")
    rng = np.random.RandomState(11)
    h, w = 4, 6

    def granule(g, hh=h, ww=w):
        write_hdf5(str(watch / f"g{g}.nc"), {
            "time": {"data": np.array([g * 86400.0]), "dims": ["time"],
                     "attrs": {"units": "seconds since 2021-01-01"}},
            "lat": {"data": np.linspace(-30, 30, hh), "dims": ["lat"]},
            "lon": {"data": np.linspace(-60, 60, ww), "dims": ["lon"]},
            "A": {"data": rng.rand(1, hh, ww),
                  "dims": ["time", "lat", "lon"], "chunks": (1, 2, 3)},
        })

    def run():
        q = run_granule_ingest_stream(
            spark, str(watch), refs, str(tmp_path / "state"),
            str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    granule(0)
    run()
    granule(1, hh=3, ww=5)             # wrong grid
    (watch / "g2.nc").write_bytes(b"\x89HDF\r\n\x1a\ngarbage")  # corrupt
    granule(3)                          # good, arrives with the bad ones
    run()
    granule(4)                          # next wave still works
    run()

    cube = open_kerchunk_cube(spark, refs)
    assert cube.count() == 3 * h * w   # granules 0, 3, 4
    st = read_granule_state(spark, str(tmp_path / "state"))
    assert st.where(st.kind == "axes").count() == 3
    q = {r["path"].rsplit("/", 1)[-1]: r["error"]
         for r in read_granule_quarantine(
             spark, str(tmp_path / "state")).collect()}
    assert set(q) == {"g1.nc", "g2.nc"}
    assert "different grid" in q["g1.nc"]


def _near_dup_corpus(spark):
    """Synthetic corpus with genuine near-dup structure: templates
    repeated with tiny tail variations (band collisions + >=6/8
    signature agreement) plus unique documents."""
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again in the field")
    rows = []
    for i in range(40):
        if i % 4 == 0:
            rows.append((i, base + f" unique tail {i} with extra words"))
        elif i % 4 == 1:
            rows.append((i, base))
        else:
            rows.append((i, " ".join(f"w{i}_{j}" for j in range(12))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_near_dedup_batching_invariant(spark):
    """Three id-ordered batches must produce exactly the one-shot
    state (the earlier-any contract of incremental_near_dedup)."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import incremental_near_dedup

    docs = _near_dup_corpus(spark)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
        + [T.StructField("is_dup", T.BooleanType())])
    empty = spark.createDataFrame([], schema)

    one_shot = incremental_near_dedup(empty, docs)
    by_parts = empty
    for lo, hi in ((0, 13), (13, 27), (27, 40)):
        by_parts = incremental_near_dedup(
            by_parts, docs.where(f"doc_id >= {lo} AND doc_id < {hi}"))
    a = {(r.doc_id, r.is_dup) for r in one_shot.collect()}
    b = {(r.doc_id, r.is_dup) for r in by_parts.collect()}
    assert a == b
    # the corpus genuinely contains both dups and uniques
    flags = dict(a)
    assert any(flags.values()) and not all(flags.values())
    # identical texts are always flagged (signature agreement = 8/8)
    dup_ids = [i for i in range(40) if i % 4 == 1 and i > 1]
    assert all(flags[i] for i in dup_ids)


def test_streaming_incremental_near_dedup_equals_batch(spark, tmp_path):
    """The near-dup foreachBatch sink over two micro-batches equals
    the one-shot merge."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import incremental_near_dedup
    from xcube_spark.streaming.dedup_sink import (
        run_incremental_near_dedup_stream)

    docs = _near_dup_corpus(spark)
    stream = two_file_stream(
        spark, docs, str(tmp_path / "near_src"), "doc_id < 20")
    final = run_incremental_near_dedup_stream(
        stream, str(tmp_path / "near_state"), str(tmp_path / "near_ckpt"))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
        + [T.StructField("is_dup", T.BooleanType())])
    want = incremental_near_dedup(
        spark.createDataFrame([], schema), docs)
    assert ({(r.doc_id, r.is_dup) for r in final.collect()}
            == {(r.doc_id, r.is_dup) for r in want.collect()})


def test_near_dup_state_store_equals_one_shot(spark):
    """The bucketed-table state store over three id-monotone batches
    must produce exactly the one-shot merge's flags (r7: state
    persisted bucketed by band key / doc id, no per-batch state
    re-projection)."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import (
        NearDupStateStore, incremental_near_dedup)

    docs = _near_dup_corpus(spark)
    store = NearDupStateStore(spark, "t_ndstore_a")
    store.drop()
    try:
        for lo, hi in ((0, 13), (13, 27), (27, 40)):
            store.merge_batch(
                docs.where(f"doc_id >= {lo} AND doc_id < {hi}"))
        got = {(r.doc_id, r.is_dup) for r in store.flags().collect()}

        schema = T.StructType(
            [T.StructField("doc_id", T.LongType())]
            + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
            + [T.StructField("is_dup", T.BooleanType())])
        want_df = incremental_near_dedup(
            spark.createDataFrame([], schema), docs)
        want = {(r.doc_id, r.is_dup) for r in want_df.collect()}
        assert got == want
        flags = dict(got)
        assert any(flags.values()) and not all(flags.values())
    finally:
        store.drop()


def test_near_dup_state_store_keeps_table_bucket_count(spark):
    """Reopening a state with the default bucket count takes the count
    from the existing sig table: merges and compact() keep its bucket
    count, and an explicit count that disagrees is refused."""
    import pytest

    from xcube_spark.pipeline.dedup import NearDupStateStore

    # a count the default (defaultParallelism) does not happen to equal
    n = 3 if spark.sparkContext.defaultParallelism != 3 else 2
    docs = _near_dup_corpus(spark)
    store = NearDupStateStore(spark, "t_ndstore_reopen", n_buckets=n)
    store.drop()
    try:
        store.merge_batch(docs.where("doc_id < 20"))
        reopened = NearDupStateStore(spark, "t_ndstore_reopen")
        assert reopened.n_buckets == n
        reopened.merge_batch(docs.where("doc_id >= 20"))
        reopened.compact()
        assert reopened._table_buckets() == n
        assert NearDupStateStore(
            spark, "t_ndstore_reopen", n_buckets=n).n_buckets == n
        assert spark.table(reopened.sig_table).count() == docs.count()
        with pytest.raises(ValueError, match=f"has {n} buckets"):
            NearDupStateStore(spark, "t_ndstore_reopen", n_buckets=n + 2)
    finally:
        store.drop()


def test_near_dup_state_store_no_state_side_exchange(spark):
    """The LSH candidate join must scan the band state IN PLACE
    (bucketed scan, no exchange under it); only the batch side
    shuffles into the bucket layout."""
    from xcube_spark.pipeline.dedup import NearDupStateStore

    docs = _near_dup_corpus(spark)
    store = NearDupStateStore(spark, "t_ndstore_b")
    store.drop()
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        store.merge_batch(docs.where("doc_id < 20"))
        # pin a shuffle join (at scale neither side broadcasts) so the
        # plan shows which sides exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch_sig = __import__(
            "xcube_spark.pipeline.dedup", fromlist=["minhash_sig_state"]
        ).minhash_sig_state(docs.where("doc_id >= 20")).drop("is_dup")
        cand = store._old_candidates(store._bkey_bands(batch_sig))
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # the state scan is bucketed...
        assert "Bucketed: true" in plan
        # ...and the state side of the sort-merge join — everything
        # from its Sort down to the bands FileScan — contains NO
        # exchange: the state is read in place, only the batch side
        # shuffles (its signature agg + the join repartition)
        state_side = plan[plan.rindex("Sort [bkey"):]
        assert "Bucketed: true" in state_side
        assert "Exchange" not in state_side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        store.drop()


def test_streaming_near_dedup_bucketed_equals_batch(spark, tmp_path):
    """The bucketed-store foreachBatch sink over two micro-batches
    equals the one-shot merge."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import incremental_near_dedup
    from xcube_spark.streaming.dedup_sink import (
        run_incremental_near_dedup_stream_bucketed)

    docs = _near_dup_corpus(spark)
    stream = two_file_stream(
        spark, docs, str(tmp_path / "nb_src"), "doc_id < 20")
    store = run_incremental_near_dedup_stream_bucketed(
        stream, "t_ndstore_sink", str(tmp_path / "nb_marker"),
        str(tmp_path / "nb_ckpt"))
    try:
        schema = T.StructType(
            [T.StructField("doc_id", T.LongType())]
            + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
            + [T.StructField("is_dup", T.BooleanType())])
        want = incremental_near_dedup(
            spark.createDataFrame([], schema), docs)
        assert ({(r.doc_id, r.is_dup) for r in store.flags().collect()}
                == {(r.doc_id, r.is_dup) for r in want.collect()})
    finally:
        store.drop()


def test_stream_cusum_equals_batch(spark, sf_dir):
    from xcube_spark.operators.temporal import cusum_drift
    from xcube_spark.streaming.stateful import running_cusum

    stream = running_cusum(read_events_stream(spark, sf_dir), k=55.0)
    got = run_stream_to_table(stream, output_mode="append").select(
        "event_id", "user_id",
        F.round(F.col("cusum") + 1e-9, 4).alias("cusum"))
    ev = tbl(spark, sf_dir, "events")
    want = cusum_drift(
        ev, "value", "user_id",
        [F.unix_micros(F.col("ts").cast("timestamp_ltz")), "event_id"],
        k=55.0,
    ).select("event_id", "user_id",
             F.round(F.col("cusum") + 1e-9, 4).alias("cusum"))
    cols = ("event_id", "user_id", "cusum")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_stream_ema_equals_batch(spark, sf_dir):
    from xcube_spark.operators.temporal import ema_smooth
    from xcube_spark.streaming.stateful import running_ema

    stream = running_ema(read_events_stream(spark, sf_dir),
                         alpha=0.25, window=16)
    got = run_stream_to_table(stream, output_mode="append").select(
        "event_id", "user_id",
        F.round(F.col("ema") + 1e-9, 6).alias("ema"))
    ev = tbl(spark, sf_dir, "events")
    ema = ema_smooth(
        ev, "value", "user_id",
        [F.unix_micros(F.col("ts").cast("timestamp_ltz")), "event_id"],
        alpha=0.25, window=16)
    want = ev.select("event_id", "user_id",
                     F.round(ema + 1e-9, 6).alias("ema"))
    cols = ("event_id", "user_id", "ema")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_stream_holt_equals_batch(spark, sf_dir):
    from xcube_spark.operators.temporal import holt_smooth
    from xcube_spark.streaming.stateful import running_holt

    stream = running_holt(read_events_stream(spark, sf_dir),
                          alpha=0.5, beta=0.25, window=12)
    got = run_stream_to_table(stream, output_mode="append").select(
        "event_id", "user_id",
        F.round(F.col("holt_level") + 1e-9, 6).alias("l"),
        F.round(F.col("holt_trend") + 1e-9, 6).alias("t"),
        F.round(F.col("holt_forecast") + 1e-9, 6).alias("f"))
    ev = tbl(spark, sf_dir, "events")
    out = holt_smooth(
        ev, "value", "user_id",
        [F.unix_micros(F.col("ts").cast("timestamp_ltz")), "event_id"],
        alpha=0.5, beta=0.25, window=12)
    want = out.select(
        "event_id", "user_id",
        F.round(F.col("holt_level") + 1e-9, 6).alias("l"),
        F.round(F.col("holt_trend") + 1e-9, 6).alias("t"),
        F.round(F.col("holt_level") + F.col("holt_trend") + 1e-9, 6)
        .alias("f"))
    cols = ("event_id", "user_id", "l", "t", "f")
    assert _rows(got, *cols) == _rows(want, *cols)


def test_near_dup_state_store_replay_after_partial_append(spark):
    """Crash between the sig append and the bands append, then replay
    the same batch in a fresh store instance (fresh process): the
    batch_id-tagged merge must complete the partial append without
    duplicating state rows (ADVICE r7 exactly-once)."""
    from pyspark.sql import types as T

    from xcube_spark.pipeline.dedup import (NearDupStateStore,
                                            incremental_near_dedup)

    docs = _near_dup_corpus(spark)
    b0 = docs.where("doc_id < 20")
    b1 = docs.where("doc_id >= 20")
    store = NearDupStateStore(spark, "t_ndstore_replay")
    store.drop()
    try:
        store.merge_batch(b0, batch_id=0)

        crashed = NearDupStateStore(spark, "t_ndstore_replay")
        orig_append = NearDupStateStore._append

        def boom(self, df, table, bucket_col):
            if table == self.bands_table:
                raise RuntimeError("simulated crash before bands append")
            orig_append(self, df, table, bucket_col)

        NearDupStateStore._append = boom
        try:
            import pytest
            with pytest.raises(RuntimeError):
                crashed.merge_batch(b1, batch_id=1)
        finally:
            NearDupStateStore._append = orig_append
        # sig rows for batch 1 are in; bands rows are not

        replay = NearDupStateStore(spark, "t_ndstore_replay")
        replay.merge_batch(b1, batch_id=1)

        sig = spark.table(replay.sig_table)
        n_docs = docs.count()
        assert sig.count() == n_docs  # no doubled signature rows
        assert sig.select("doc_id").distinct().count() == n_docs
        bands = spark.table(replay.bands_table)
        assert bands.count() == bands.distinct().count()
        assert (bands.where("__batch = 1").select("doc_id")
                .distinct().count() == b1.count())

        schema = T.StructType(
            [T.StructField("doc_id", T.LongType())]
            + [T.StructField(f"h{j}", T.StringType()) for j in range(8)]
            + [T.StructField("is_dup", T.BooleanType())])
        want = incremental_near_dedup(
            spark.createDataFrame([], schema), docs)
        assert ({(r.doc_id, r.is_dup) for r in replay.flags().collect()}
                == {(r.doc_id, r.is_dup) for r in want.collect()})
    finally:
        store.drop()


def test_near_dup_state_store_compact(spark):
    """compact() merges the per-batch file accumulation into one file
    per bucket, leaves rows (incl. __batch tags) unchanged, and keeps
    the candidate join bucket-local (no state-side exchange)."""
    import glob
    import os
    from urllib.parse import urlparse

    from xcube_spark.pipeline.dedup import (NearDupStateStore,
                                            minhash_sig_state)

    docs = _near_dup_corpus(spark)
    store = NearDupStateStore(spark, "t_ndstore_compact", n_buckets=4)
    store.drop()
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for b, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30),
                                      (30, 40))):
            store.merge_batch(
                docs.where(f"doc_id >= {lo} AND doc_id < {hi}"),
                batch_id=b)
        before = sorted((r.doc_id, r.is_dup, r["__batch"])
                        for r in spark.table(store.sig_table).collect())
        wh = urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "")).path
        sig_dir = os.path.join(wh, store.sig_table.lower())
        n_before = len(glob.glob(os.path.join(sig_dir, "part-*")))
        assert n_before > 4  # one file set per batch accumulated

        store.compact()

        n_after = len(glob.glob(os.path.join(sig_dir, "part-*")))
        assert n_after <= 4 < n_before
        after = sorted((r.doc_id, r.is_dup, r["__batch"])
                       for r in spark.table(store.sig_table).collect())
        assert after == before

        # the candidate join over the compacted state is still a
        # bucketed in-place scan: no exchange on the state side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch_sig = minhash_sig_state(
            docs.where("doc_id >= 35")).drop("is_dup")
        cand = store._old_candidates(store._bkey_bands(batch_sig))
        plan = cand._jdf.queryExecution().executedPlan().toString()
        state_side = plan[plan.rindex("Sort [bkey"):]
        assert "Bucketed: true" in state_side
        assert "Exchange" not in state_side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        store.drop()


# ---- exactly-once replay: every foreachBatch state sink ------------------


def _texts(spark):
    rows = [(i, f"text {i % 5}") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _grams(spark):
    rows = [(i, f"g{i % 13}") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, ngram string")


def _feats(spark):
    rows = [(i, i % 7 + 1, (i * 3) % 5 + 1, 3 + 2 * (i % 7 + 1)
             + 5 * ((i * 3) % 5 + 1)) for i in range(40)]
    return spark.createDataFrame(
        rows, "doc_id long, x1 long, x2 long, y long")


def _embeddings(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(40)]
    return spark.createDataFrame(
        rows, "doc_id long, embedding array<double>")


def _labeled(spark):
    rows = [(i, "aa" if i % 3 else "bb", f"text {i % 5}")
            for i in range(40)]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string")


def _bucketed_flags(stream, state_dir, ckpt):
    return dedup_sink.run_incremental_near_dedup_stream_bucketed(
        stream, "t_ndstore_replay", state_dir, ckpt).flags()


#: sink -> (input frame, run(stream, state_dir, checkpoint) -> state)
_REPLAY_SINKS = {
    "dedup": (_texts, dedup_sink.run_incremental_dedup_stream),
    "near_dedup": (_near_dup_corpus,
                   dedup_sink.run_incremental_near_dedup_stream),
    "near_dedup_bucketed": (_near_dup_corpus, _bucketed_flags),
    "hll": (_texts, sketch_sink.run_incremental_hll_stream),
    "cms": (_grams, sketch_sink.run_incremental_cms_stream),
    "kmv": (_texts, sketch_sink.run_incremental_kmv_stream),
    "probe": (_feats, sketch_sink.run_incremental_probe_stream),
    "pca": (_embeddings, sketch_sink.run_pca_moments_stream),
    "nb": (_labeled, lambda s, d, c: sketch_sink.run_nb_counts_stream(
        s, d, c, n_buckets=64)),
    "bloom": (_texts, sketch_sink.run_bloom_filter_stream),
}


def _check_dedup_first(rows):
    first = {r.digest: (r.canonical_id, r.group_size) for r in rows}
    assert len(first) == 5
    assert all(size == 8 for _, size in first.values())


@pytest.mark.parametrize("sink", list(_REPLAY_SINKS))
def test_sink_replay_leaves_state_unchanged(spark, tmp_path, sink):
    """Replaying the whole stream against an already-published state
    (the crash-between-publish-and-checkpoint-commit scenario, forced
    here by wiping the checkpoint) must leave the state unchanged —
    the batch-id guard skips batches already folded into the state.
    The exact-dedup, CMS, probe, PCA and NB merges add and the near-dup
    sinks append rows, so without the guard a replay changes them."""
    frame, run = _REPLAY_SINKS[sink]
    stream = two_file_stream(
        spark, frame(spark), str(tmp_path / "src"), "doc_id < 20")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    try:
        first = sorted(run(stream, state_dir, ckpt).collect())
        assert first
        if sink == "dedup":
            _check_dedup_first(first)

        # wipe the checkpoint: Spark replays every batch from scratch
        # with the same restarting batch ids
        shutil.rmtree(ckpt)
        second = sorted(
            run(stream, state_dir, str(tmp_path / "ckpt2")).collect())
        assert second == first
    finally:
        if sink == "near_dedup_bucketed":
            NearDupStateStore(spark, "t_ndstore_replay").drop()
