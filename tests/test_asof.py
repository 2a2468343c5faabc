"""asof_join (operators/asof.py) and audio_features (multimodal)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from xcube_spark.operators.asof import asof_join


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _frames(spark):
    trades = spark.createDataFrame(
        [(1, "A", _ts(10, 0), 100.0),
         (2, "A", _ts(10, 30), 101.0),
         (3, "B", _ts(10, 15), 50.0),
         (4, "A", _ts(9, 0), 99.0)],      # before any quote
        "trade_id long, sym string, ts timestamp, px double")
    quotes = spark.createDataFrame(
        [("A", _ts(9, 55), 99.5),
         ("A", _ts(10, 30), 100.5),       # equal-ts quote
         ("B", _ts(10, 0), 49.5)],
        "sym string, ts timestamp, quote double")
    return trades, quotes


def test_asof_backward_inclusive_and_unmatched(spark):
    trades, quotes = _frames(spark)
    out = {r.trade_id: r for r in
           asof_join(trades, quotes, on="ts", by=["sym"]).collect()}
    assert out[1].quote == 99.5
    assert out[2].quote == 100.5          # equal ts matches (inclusive)
    assert out[3].quote == 49.5
    assert out[4].quote is None           # nothing at-or-before
    assert out[4].px == 99.0              # left row preserved
    assert len(out) == 4


def test_asof_forward(spark):
    trades, quotes = _frames(spark)
    out = {r.trade_id: r for r in
           asof_join(trades, quotes, on="ts", by=["sym"],
                     direction="forward").collect()}
    assert out[4].quote == 99.5           # earliest at-or-after 9:00
    assert out[1].quote == 100.5          # next quote after 10:00
    assert out[2].quote == 100.5          # equal ts matches forward too


def test_asof_tolerance(spark):
    trades, quotes = _frames(spark)
    out = {r.trade_id: r for r in
           asof_join(trades, quotes, on="ts", by=["sym"],
                     tolerance_seconds=10 * 60).collect()}
    assert out[1].quote == 99.5           # 5 min gap, inside
    assert out[3].quote is None           # 15 min gap, outside
    assert out[3].ts_right is None


def test_asof_column_collision_suffix(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), 1.0)], "id long, ts timestamp, value double")
    right = spark.createDataFrame(
        [(9, _ts(9), 2.0)], "id long, ts timestamp, value double")
    out = asof_join(left, right.withColumnRenamed("id", "rid"),
                    on="ts").collect()[0]
    assert out.value == 1.0 and out.value_right == 2.0
    assert out.rid == 9 and out.ts_right == _ts(9)


def test_asof_keyless_bucketed_equivalence(spark):
    """Keyless as-of: the time-range-bucketed path returns exactly the
    single-partition reference result — backward and forward, with
    equal-ts ties, empty buckets to carry across, and rows before any
    right row — and the plan partitions by the bucket key (no
    single-task funnel)."""
    import random

    random.seed(20)
    lrows = [(i, _ts(9 + i % 12, (7 * i) % 60)) for i in range(150)]
    # right rows clustered early so later quantile buckets are empty
    # on the right side (exercises the cross-bucket carry), plus an
    # equal-ts pair to exercise the pick-max tie rule
    rrows = [(_ts(9, (3 * j) % 45), float(j)) for j in range(40)]
    rrows += [(_ts(10, 30), 900.0), (_ts(10, 30), 901.0)]
    left = spark.createDataFrame(lrows, "event_id long, ts timestamp")
    right = spark.createDataFrame(rrows, "ts timestamp, val double")

    for direction in ("backward", "forward"):
        ref = {r.event_id: (r.val, r.ts_right) for r in asof_join(
            left, right, on="ts", direction=direction,
            num_buckets=None).collect()}
        got = {r.event_id: (r.val, r.ts_right) for r in asof_join(
            left, right, on="ts", direction=direction,
            num_buckets=8).collect()}
        assert got == ref, direction

    plan = asof_join(left, right, on="ts", num_buckets=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan


def test_asof_keyless_tolerance_bucketed(spark):
    """Tolerance on the keyless bucketed path: carry-in payloads from
    far-away buckets null out beyond the bound."""
    left = spark.createDataFrame(
        [(1, _ts(9, 5)), (2, _ts(15, 0))],
        "event_id long, ts timestamp")
    right = spark.createDataFrame(
        [(_ts(9, 0), 1.0)], "ts timestamp, val double")
    out = {r.event_id: r.val for r in asof_join(
        left, right, on="ts", tolerance_seconds=600,
        num_buckets=4).collect()}
    assert out[1] == 1.0
    assert out[2] is None


def test_audio_features_matches_numpy(spark):
    import numpy as np
    from xcube_spark.pipeline.multimodal import attach_payload, audio_features

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "x"), (3, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            audio_features(attach_payload(docs), frame=2).collect()}
    s = np.frombuffer(b"abcdefgh", dtype="<i2").astype(np.int64)
    assert rows[1].n_samples == 4 and rows[1].n_frames == 2
    assert rows[1].peak == int(np.abs(s).max())
    assert rows[1].sum_sq == int((s * s).sum())
    assert rows[2].n_samples == 0          # 1 byte -> no full sample
    assert rows[3].n_samples == 0 and rows[3].sum_sq == 0


# ---- interval_join (operators/interval.py) ----------------------------


def _interval_frames(spark):
    pts = spark.createDataFrame(
        [(1, _ts(10, 0), 1.0),
         (2, _ts(10, 29), 2.0),   # in window A (half-open: < 10:30)
         (3, _ts(10, 30), 3.0),   # boundary: only with end_inclusive
         (4, _ts(12, 0), 4.0),    # in no window
         (5, _ts(10, 15), 5.0)],  # in windows A and B (overlap)
        "pid long, ts timestamp, v double")
    wins = spark.createDataFrame(
        [("A", _ts(10, 0), _ts(10, 30)),
         ("B", _ts(10, 10), _ts(10, 20)),
         ("C", _ts(13, 0), _ts(13, 30))],  # matches nothing
        "wid string, w_start timestamp, w_end timestamp")
    return pts, wins


def test_interval_join_half_open_and_overlap(spark):
    from xcube_spark.operators.interval import interval_join

    pts, wins = _interval_frames(spark)
    got = sorted(
        (r.pid, r.wid)
        for r in interval_join(pts, wins, bucket_seconds=600.0)
        .collect()
    )
    assert got == [(1, "A"), (2, "A"), (5, "A"), (5, "B")]


def test_interval_join_end_inclusive_and_auto_bucket(spark):
    from xcube_spark.operators.interval import interval_join

    pts, wins = _interval_frames(spark)
    # no bucket_seconds: width from the interval side's mean length
    got = sorted(
        (r.pid, r.wid)
        for r in interval_join(pts, wins, end_inclusive=True).collect()
    )
    assert got == [(1, "A"), (2, "A"), (3, "A"), (5, "A"), (5, "B")]


def test_interval_join_plans_as_equi_join(spark):
    """The binned form must plan as a bucket equi-join — a raw
    BETWEEN theta join degenerates to BroadcastNestedLoopJoin."""
    from xcube_spark.operators.interval import interval_join

    pts, wins = _interval_frames(spark)
    plan = interval_join(pts, wins, bucket_seconds=600.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_equal_ts_right_rows_tie_break_deterministic(spark):
    """Multiple right rows sharing (by, ts): the join must pick the
    same one on every run/partitioning — the documented rule is
    pick-max over the right payload struct."""
    from xcube_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 100), ("u2", 100)], "user string, ts long")
    # three right rows per user at the SAME timestamp, distinct payloads
    right_rows = [("u1", 50, v, f"p{v}") for v in (3, 1, 2)] + [
        ("u2", 50, v, f"p{v}") for v in (7, 9, 8)]
    for n_parts in (1, 3, 7):
        right = spark.createDataFrame(
            right_rows, "user string, ts long, val long, tag string"
        ).repartition(n_parts)
        out = {r.user: (r.val, r.tag)
               for r in asof_join(left, right, on="ts", by=["user"]).collect()}
        # pick-max struct: (__rts, val, tag) maximal -> highest val
        assert out == {"u1": (3, "p3"), "u2": (9, "p9")}, n_parts
