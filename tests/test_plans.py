"""Physical-plan audits (SURVEY §4): these tests pin the plan
properties the engine's scale story depends on — partition pruning,
parquet filter pushdown, column pruning, broadcast join selection, and
partial (map-side) aggregation.  A regression here is a performance
bug even when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube

GRID = CubeGrid(width=64, height=32, time_periods=4, x_res=5.625,
                y_res=5.625)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def layout_path(spark, tmp_path_factory):
    """A cube laid out per SURVEY §1.8: partitioned by t_i."""
    path = str(tmp_path_factory.mktemp("plans") / "cube.parquet")
    new_cube(spark, GRID, {"v": 1.0, "w": 2.0}).write \
        .partitionBy("t_i").parquet(path)
    return path


def test_partition_pruning_and_pushdown(spark, layout_path):
    df = spark.read.parquet(layout_path)
    q = df.where((F.col("t_i") == 2) & (F.col("x") >= 0.0)
                 & (F.col("x") < 10.0))
    plan = _plan(q)
    # time filter prunes partitions before listing...
    assert "PartitionFilters" in plan and "t_i" in plan.split(
        "PartitionFilters", 1)[1][:200]
    # ...and the bbox predicate reaches the parquet reader
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "GreaterThanOrEqual(x" in pushed and "LessThan(x" in pushed


def test_column_pruning(spark, layout_path):
    q = spark.read.parquet(layout_path).select("t_i", "y_i", "x_i", "v")
    plan = _plan(q)
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "v:" in schema and "w:" not in schema  # w pruned at the scan


def test_select_subset_pushes_through_operator(spark, layout_path):
    from xcube_spark.operators.select import select_subset

    cube = spark.read.parquet(layout_path)
    q = select_subset(cube, var_names=["v"], bbox=[0.0, 0.0, 30.0, 30.0])
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "x" in pushed and "y" in pushed
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "w:" not in schema


def test_affine_gather_broadcasts_target(spark):
    from xcube_spark.operators.resampling import affine_transform_dataset

    cube = new_cube(spark, GRID, {"v": 1.0})
    tgt = CubeGrid(width=16, height=8, time_periods=4, x_start=-90.0,
                   y_start=-45.0, x_res=5.625, y_res=5.625)
    plan = _plan(affine_transform_dataset(cube, GRID, tgt, spline_orders=0))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_timeseries_partial_aggregation(spark, layout_path):
    from xcube_spark.operators.timeseries import get_time_series

    cube = spark.read.parquet(layout_path)
    plan = _plan(get_time_series(cube, ["v"], agg_methods=("mean", "count")))
    # two HashAggregates around one exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert "partial_avg" in plan or "partial_average" in plan


def test_dedup_has_no_corpus_broadcast_hint(spark):
    """The LSH dedup self-joins must carry NO broadcast hint: every
    side is corpus-derived (band table, chunk table, packed shingle
    arrays), so a forced broadcast is an OOM at 100 TB.  AQE may still
    *choose* broadcast at runtime when a side fits — the assertion is
    on the optimized logical plan, where only explicit hints appear."""
    from xcube_spark.pipeline.dedup import (minhash_near_dup_pairs,
                                            simhash_near_dup_pairs)
    from xcube_spark.pipeline.similarity import embedding_near_dup_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(8)],
        ["doc_id", "text"])
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        ["vec_id", "embedding"])
    for df in (minhash_near_dup_pairs(docs),
               simhash_near_dup_pairs(docs),
               embedding_near_dup_pairs(emb, threshold=0.3)):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in opt.lower()


def test_histogram_stretch_is_single_action(spark, layout_path):
    """Stretch-range + histogram + RGBA must be ONE Spark action: plan
    construction launches zero jobs (no .collect() round-trips), the
    range rides along as a broadcast scalar subquery."""
    from xcube_spark.operators.statistics import with_stretch_range
    from xcube_spark.operators.tiles import compute_rgba_tile_auto

    cube = spark.read.parquet(layout_path)
    sc = spark.sparkContext
    sc.setJobGroup("lazy-check", "plan construction must not run jobs")
    try:
        ranged = with_stretch_range(cube, "v", "2sigma")
        tile = cube.select("t_i", F.col("x_i").alias("px"),
                           F.col("y_i").alias("py"), "v")
        rgba = compute_rgba_tile_auto(tile, "v")
        assert "lo" in ranged.columns and "r" in rgba.columns
        jobs = sc.statusTracker().getJobIdsForGroup("lazy-check")
        assert len(jobs) == 0, f"plan construction ran jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    assert rgba.count() > 0  # and the fused plan executes


def test_lsh_bucket_skew_cap(spark):
    """Buckets above max_bucket_size are dropped before pairing, so one
    pathological bucket cannot fan out O(n^2) candidate pairs."""
    from xcube_spark.pipeline.dedup import lsh_bands, lsh_candidate_pairs

    sig = spark.createDataFrame(
        [(i, "samekey") for i in range(6)] + [(10, "other"), (11, "other")],
        ["doc_id", "h0"])
    bands = lsh_bands(sig, num_bands=1)
    assert lsh_candidate_pairs(bands, max_bucket_size=4).count() == 1
    assert lsh_candidate_pairs(bands, max_bucket_size=None).count() == 16


def test_extract_join_is_equi_not_range(spark, layout_path):
    """Nearest-cell extraction must plan as an equi-join on computed
    indices (the extract.py:321 rewrite), never a range/cartesian join."""
    from xcube_spark.cube.new import gen_points
    from xcube_spark.operators.extract import get_cube_values_for_points

    cube = spark.read.parquet(layout_path)
    pts = gen_points(spark, GRID, 100)
    plan = _plan(get_cube_values_for_points(cube, GRID, pts))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zarr_chunk_pushdown(spark, tmp_path):
    """cell_bounds prunes chunk ids in the range table BEFORE any chunk
    IO: with a corrupted out-of-bounds chunk file the pruned read still
    succeeds (proof the chunk was never fetched), and results equal the
    post-hoc filter."""
    import os

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = CubeGrid(width=16, height=8, time_periods=4, x_res=22.5,
                    y_res=22.5, chunks=(1, 4, 8))
    cube = new_cube(spark, grid, {"v": "CAST(t_i AS DOUBLE)"})
    path = str(tmp_path / "p.zarr")
    write_zarr_cube(cube, path, grid)
    full = open_zarr_cube(spark, path)
    want = full.where((F.col("t_i") <= 1) & (F.col("y_i") >= 4)).collect()
    # corrupt a chunk that only t_i>=2 reads touch
    with open(os.path.join(path, "v", "3.0.0"), "wb") as f:
        f.write(b"NOT A CHUNK")
    pruned = open_zarr_cube(spark, path,
                            cell_bounds={"t_i": (0, 1), "y_i": (4, 7)})
    got = pruned.collect()
    assert len(got) == len(want) == 2 * 4 * 16
    assert {tuple(r) for r in got} == {tuple(r) for r in want}


def test_geotiff_chunk_pushdown(spark, tmp_path):
    """cell_bounds on a 64x64 GeoTIFF with 16-px tiles decodes only the
    4 tiles of the first tile row: with the other 12 tiles corrupted
    the bounded read still succeeds, and equals the filtered full
    read."""
    from xcube_spark.sources.geotiff import (_read_ifds, open_geotiff_cube,
                                             write_geotiff)

    grid = CubeGrid(width=64, height=64, time_periods=1, x_res=1.0,
                    y_res=1.0)
    path = str(tmp_path / "t.tif")
    write_geotiff(new_cube(spark, grid, {"A": "CAST(y_i * 64 + x_i AS DOUBLE)"}),
                  path, ["A"], width=64, height=64, tile=16)
    bounds = {"y_i": (0, 15)}
    want = open_geotiff_cube(spark, path).where(
        F.col("y_i") <= 15).collect()
    ifd = _read_ifds(path)[0]
    assert len(ifd.offsets) == 16
    with open(path, "r+b") as f:
        for off in ifd.offsets[4:]:
            f.seek(off)
            f.write(b"NOT A TILE")
    got = open_geotiff_cube(spark, path, cell_bounds=bounds).collect()
    assert len(got) == len(want) == 16 * 64
    assert {tuple(r) for r in got} == {tuple(r) for r in want}


def test_jp2_cell_bounds_match_filter(spark, tmp_path):
    """cell_bounds on a JP2 returns the rows of the filtered full read."""
    import numpy as np

    from xcube_spark.sources.jp2 import open_jp2_cube, write_jp2

    p = str(tmp_path / "b.jp2")
    write_jp2(p, np.arange(64 * 64, dtype=np.uint16).reshape(64, 64),
              tile=(32, 32))
    want = open_jp2_cube(spark, p).where(
        F.col("x_i").between(8, 20)).collect()
    got = open_jp2_cube(spark, p, cell_bounds={"x_i": (8, 20)}).collect()
    assert len(got) == len(want) == 64 * 13
    assert {tuple(r) for r in got} == {tuple(r) for r in want}


def test_reader_task_range_splits(spark, tmp_path):
    """A reader's task range has no more splits than tasks: a 2-tile
    GeoTIFF plans as 2 splits (fewer only on a 1-core session)."""
    from xcube_spark.sources.geotiff import open_geotiff_cube, write_geotiff

    grid = CubeGrid(width=32, height=16, time_periods=1, x_res=1.0,
                    y_res=1.0)
    path = str(tmp_path / "two.tif")
    write_geotiff(new_cube(spark, grid, {"A": 1.0}), path, ["A"],
                  width=32, height=16, tile=16)
    splits = min(2, spark.sparkContext.defaultParallelism)
    plan = _plan(open_geotiff_cube(spark, path))
    assert f"Range (0, 2, step=1, splits={splits})" in plan, plan


def test_write_zarr_cube_plan_one_shuffle(spark, tmp_path):
    """The zarr writer's executed plan is one hash exchange by chunk
    key feeding MapInArrow — no grouped pandas apply, no aggregate."""
    import re

    from xcube_spark.sources.zarrio import write_zarr_cube

    n = write_zarr_cube(new_cube(spark, ZGRID, {"v": "CAST(t_i AS DOUBLE)"}),
                        str(tmp_path / "w.zarr"), ZGRID)
    assert n == 12
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    last = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().last()
    plan = last.physicalPlanDescription()
    assert "MapInArrow" in plan and "FlatMapGroupsInPandas" not in plan
    # the formatted plan prints the executed tree, then the initial one
    tree = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1, plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(FLOOR" in plan


def test_asof_join_is_single_shuffle(spark):
    import datetime as dt
    from xcube_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, dt.datetime(2024, 1, 1, 10), 1.0)],
        "event_id long, user_id long, ts timestamp, value double")
    right = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 9), 2.0)],
        "user_id long, ts timestamp, quote double")
    plan = _plan(asof_join(left, right, on="ts", by=["user_id"]))
    # the union-window form: exactly ONE exchange (on the by key) —
    # a theta range-join would show a nested-loop / cartesian product
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_pq_search_broadcasts_queries_not_corpus(spark, sf_dir):
    from xcube_spark.pipeline.similarity import knn_pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(knn_pq(emb, queries, k=10))
    # ADC scan (r7 fused kernel): encode + table-gather + local top-k
    # run in ONE MapInArrow pass over the raw corpus; the model
    # (codebook + query tables) ships in the kernel closure, so the
    # plan has NO join at all — no broadcast, no cartesian product —
    # and the only exchange is the rank window's shuffle over the
    # locally-pruned (partitions x |queries| x ~k) candidate rows
    assert "MapInArrow" in plan
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1  # the rank window only


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id")
    q = ev.select("event_id", "event_type",
                  F.row_number().over(w).alias("r")).where(F.col("r") <= 100)
    # Spark inserts WindowGroupLimit: each partition pre-prunes to the
    # top 100 per group before the shuffle — the rank shuffle carries
    # at most groups x 100 x partitions rows, not the corpus
    assert "WindowGroupLimit" in _plan(q)


def test_bucketed_join_elides_exchanges(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key merge with ZERO exchanges —
    the storage contract behind the incremental dedup / curation
    claims ('bucket the doc table and the per-batch join is
    bucket-local')."""
    from xcube_spark.sources.layout import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_bucketed_table(docs.select("doc_id", "text"),
                             "bt_docs", n_buckets=8)
        write_bucketed_table(docs.select("doc_id", "n_chars"),
                             "bt_meta", n_buckets=8)
        joined = spark.table("bt_docs").join(spark.table("bt_meta"),
                                             "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # control: the same join from plain parquet shuffles both sides
        control = docs.select("doc_id", "text").join(
            docs.select("doc_id", "n_chars"), "doc_id")
        assert "Exchange hashpartitioning" in _plan(control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_meta")


def test_semdedup_no_corpus_broadcast_and_cell_join(spark):
    """SemDeDup's pair stage is a cell-key equi-join of two
    corpus-derived sides: only the (k-row) centroid table may carry a
    broadcast hint; the corpus never does, and there is no cartesian
    product anywhere in the plan."""
    from xcube_spark.pipeline.similarity import semdedup

    emb = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.5, 0.1]) for i in range(16)],
        ["vec_id", "embedding"])
    cents = emb.where(emb.vec_id < 2)
    out = semdedup(emb, cents, threshold=0.9)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "cartesian" not in opt.lower()
    # the only broadcast hints are the two centroid attaches
    assert opt.lower().count("repartition") == 0


def test_osgb_reproject_plan_stays_linear(spark):
    """The staged EPSG:27700 transform keeps the plan linear: the
    datum-hop inverse as ONE Column tree reached megabytes of plan
    text (~50 s of Catalyst/codegen per run).  Guard: the optimized
    plan stringifies under 100 KB and builds in seconds."""
    import time

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.reproject import reproject_dataset

    src = CubeGrid(width=36, height=18, time_periods=1, x_res=10.0,
                   y_res=10.0)
    tgt = CubeGrid(width=8, height=8, time_periods=1,
                   x_start=137_000.0, y_start=23_000.0,
                   x_res=60_000.0, y_res=100_000.0, crs="EPSG:27700")
    cube = new_cube(spark, src, {"A": 1.0})
    t0 = time.time()
    out = reproject_dataset(cube, src, tgt)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(opt) < 100_000, len(opt)
    assert time.time() - t0 < 30
    assert out.count() == 64


def test_jp2_read_plan_shuffle_free(spark, tmp_path):
    """The JP2 open is MapInArrow over a bounded tile range — no
    hash-partition exchange anywhere; each task touches only its own
    tile's byte range."""
    import re

    import numpy as np

    from xcube_spark.sources.jp2 import open_jp2_cube, write_jp2

    p = str(tmp_path / "p.jp2")
    write_jp2(p, np.arange(128 * 192, dtype=np.uint16).reshape(128, 192)
              % 50000, tile=(64, 64))
    cube = open_jp2_cube(spark, p)
    phys = cube._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in phys
    hash_exchanges = re.findall(r"Exchange hashpartitioning[^\n]*", phys)
    assert not hash_exchanges, hash_exchanges


def test_netcdf4_read_plan_shuffle_free(spark, tmp_path):
    """The aligned netCDF-4 cube read is MapInArrow over the task
    range with the coordinates from the generator — no hash-partition
    exchange of cube-sized data anywhere in the physical plan."""
    import numpy as np

    from xcube_spark.sources.hdf5 import open_netcdf4_cube, write_hdf5

    path = str(tmp_path / "p.nc")
    write_hdf5(path, {
        "time": {"data": np.arange(2.0) * 86400, "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": np.linspace(-10, 10, 6), "dims": ["lat"]},
        "lon": {"data": np.linspace(-10, 10, 8), "dims": ["lon"]},
        "A": {"data": np.ones((2, 6, 8)), "dims": ["time", "lat", "lon"],
              "chunks": (1, 3, 4)},
        "B": {"data": np.zeros((2, 6, 8)),
              "dims": ["time", "lat", "lon"], "chunks": (1, 3, 4)},
    })
    cube = open_netcdf4_cube(spark, path)
    phys = cube._jdf.queryExecution().executedPlan().toString()
    # no axis joins and no shuffle at all: range -> MapInArrow ->
    # Project
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning[^\n]*", phys)
    assert not hash_exchanges, hash_exchanges


def test_trigram_lm_broadcasts_model_not_corpus(spark, sf_dir):
    from xcube_spark.pipeline.text import trigram_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(trigram_lm_score(docs))
    # the trigram-count MODEL joins as a broadcast (bounded charset^3),
    # the per-doc score is a partial aggregation — at 100 TB the corpus
    # never shuffles for the join, only for its own doc_id scores
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_bpe_vocab_collapse_before_iteration(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = (
        docs.select(F.explode(
            F.split(F.trim("text"), r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    plan = _plan(words)
    # the corpus collapses to its vocabulary with map-side combine:
    # the shuffle carries (word, partial_count), NOT corpus tokens
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_q10_broadcasts_dims_and_bounds_topk(spark, sf_dir):
    from xcube_spark.queries import load_all

    q = load_all()["q10_returned_items"]
    plan = _plan(q.fn(spark, sf_dir))
    # customer + nation ride broadcast joins; the 20-row result comes
    # from TakeOrderedAndProject, never a full sort of the aggregate
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_q4_plans_left_semi(spark, sf_dir):
    from xcube_spark.queries import load_all

    q = load_all()["q4_order_priority"]
    plan = _plan(q.fn(spark, sf_dir))
    # EXISTS decorrelates to a semi join: lineitem matches never
    # multiply order rows
    assert "LeftSemi" in plan


def test_substring_dedup_single_span_exchange(spark, sf_dir):
    """The window-min rewrite: the span-hash table is exchanged ONCE
    (hashpartitioning on __h), not re-shuffled into a join."""
    from xcube_spark.pipeline.curation import substring_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(substring_dedup_stats(docs))
    assert plan.count("hashpartitioning(__h") == 1


def test_q2_scalar_subquery_decorrelates(spark, sf_dir):
    """The correlated min-price subquery must decorrelate into an
    aggregate joined on the correlation key — no per-row subquery
    execution node survives in the physical plan."""
    from xcube_spark.queries import load_all

    q = load_all()["q2_min_cost_supplier"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Subquery" not in plan          # decorrelated, not re-executed
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # the min() agg + distinct


def test_q16_null_aware_anti_and_distinct_agg(spark, sf_dir):
    """NOT IN plans an anti join against the excluded suppliers;
    COUNT(DISTINCT) runs as a two-phase aggregate, and the dims
    broadcast."""
    from xcube_spark.queries import load_all

    q = load_all()["q16_supplier_part_cnt"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_q21_semi_and_anti_joins(spark, sf_dir):
    """EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both keyed on
    l_orderkey; never a cartesian candidate-pair blowup."""
    from xcube_spark.queries import load_all

    q = load_all()["q21_waiting_supplier"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_cluster_loop_plan_stays_flat(spark):
    """near_dup_clusters truncates lineage per round (localCheckpoint),
    so the final plan is O(1) regardless of iteration count — the r9
    audit caught the persist() version carrying 16,539 exchanges on a
    deep chain (plan size doubled per round; Catalyst re-analyzed a
    2^N-node tree every iteration — a driver-side scale-killer)."""
    import time

    from xcube_spark.pipeline.dedup import near_dup_clusters

    # a 24-node path graph forces ~12 hash-to-min rounds
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(23)],
        "id_a string, id_b string")
    t0 = time.time()
    clusters = near_dup_clusters(pairs, max_iterations=30)
    rows = clusters.collect()
    elapsed = time.time() - t0
    # one component, labeled by its min id
    assert {r.cluster_id for r in rows} == {"d00"}
    assert len(rows) == 24
    # lineage truncated: the final plan is a scan of the checkpointed
    # blocks, not the unrolled loop
    plan = _plan(clusters)
    assert plan.count("Exchange") < 100, plan.count("Exchange")
    assert len(plan) < 20_000
    # sanity: 12+ rounds complete in interactive time (the unbounded-
    # lineage version degraded super-linearly with round count)
    assert elapsed < 120


def test_kmv_set_ops_two_bnlj_max(spark, sf_dir):
    """kmv_set_ops computes all four restricted counts from ONE
    membership-tagged union, so the plan carries at most two one-row
    nested-loop joins (theta broadcast + scalar assembly) — the r9
    audit counted 8 BNLJ / 16 exchanges in the chained form."""
    from xcube_spark.queries import load_all

    q = load_all()["doc_jaccard_kmv"]
    plan = _plan(q.fn(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


# ---- zarr read path: coordinates from the chunk generator, no joins ----

ZGRID = CubeGrid(width=8, height=4, time_periods=3, x_res=45.0,
                 y_res=45.0, chunks=(1, 2, 4))


def _zarr_store(spark, path, axes=None):
    """A small zarr cube; ``axes`` maps an axis name to
    ``(values, dtype, attrs[, chunk])`` written over the default
    single-chunk ``<f8`` one (``chunk`` must divide the length)."""
    import os

    import numpy as np

    from xcube_spark.sources.zarrio import (ZarrArray, _write_array_meta,
                                            _write_bytes, encode_chunk,
                                            write_zarr_cube)

    write_zarr_cube(new_cube(spark, ZGRID, {"v": "CAST(t_i AS DOUBLE) + x"}),
                    path, ZGRID)
    for name, (vals, dtype, attrs, *chunk) in (axes or {}).items():
        vals = np.asarray(vals)
        c = chunk[0] if chunk else len(vals)
        meta = ZarrArray(name=name, shape=vals.shape, chunks=(c,),
                         dtype=dtype, compressor=None, fill_value=None,
                         attrs={"_ARRAY_DIMENSIONS": [name], **attrs})
        _write_array_meta(path, meta)
        for i in range(len(vals) // c):
            _write_bytes(os.path.join(path, name, meta.chunk_key(i)),
                         encode_chunk(vals[i * c:(i + 1) * c], meta))
    return path


ZARR_SCHEMA = ("struct<t_i:int,y_i:int,x_i:int,time:timestamp,y:double,"
               "x:double,v:double>")
NC4_SCHEMA = ("struct<t_i:int,y_i:int,x_i:int,time:timestamp,y:double,"
              "x:double,A:double,B:double>")
#: each gridded reader's cells schema
READER_SCHEMAS = {
    "zarr": ZARR_SCHEMA,
    "netcdf3": ZARR_SCHEMA,
    "netcdf4": NC4_SCHEMA,
    "netcdf4_unaligned": NC4_SCHEMA,
    "kerchunk_json": ZARR_SCHEMA,
    "kerchunk_parquet": NC4_SCHEMA,
}


def _netcdf4_file(path, aligned=True, n_lat=6):
    """A 2x6x8 netCDF-4 cube with variables A and B; ``aligned=False``
    stores B contiguous (a different chunk grid from A's), ``n_lat``
    sets the length of the lat dimension scale."""
    import numpy as np

    from xcube_spark.sources.hdf5 import write_hdf5

    write_hdf5(path, {
        "time": {"data": np.arange(2.0) * 86400, "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": np.linspace(-10, 10, n_lat), "dims": ["lat"]},
        "lon": {"data": np.linspace(-10, 10, 8), "dims": ["lon"]},
        "A": {"data": np.arange(96.0).reshape(2, 6, 8),
              "dims": ["time", "lat", "lon"], "chunks": (1, 3, 4)},
        "B": {"data": np.zeros((2, 6, 8)), "dims": ["time", "lat", "lon"],
              **({"chunks": (1, 3, 4)} if aligned else {})},
    })
    return path


def _reader_cube(spark, tmp_path, reader):
    """A small cube opened through ``reader`` (a READER_SCHEMAS key)."""
    from xcube_spark.sources.hdf5 import open_netcdf4_cube
    from xcube_spark.sources.netcdf3 import (open_netcdf_cube,
                                             write_netcdf_cube)
    from xcube_spark.sources.virtualize import (
        open_kerchunk_parquet_cube, virtualize_netcdf4_mf_parquet)
    from xcube_spark.sources.zarrio import (open_kerchunk_cube,
                                            open_zarr_cube,
                                            write_kerchunk_refs)

    if reader == "zarr":
        return open_zarr_cube(spark, _zarr_store(spark, str(tmp_path / "z")))
    if reader == "netcdf3":
        path = str(tmp_path / "c.nc")
        write_netcdf_cube(new_cube(spark, ZGRID, {"v": "CAST(t_i AS DOUBLE)"}),
                          path, ZGRID)
        return open_netcdf_cube(spark, path)
    if reader.startswith("netcdf4"):
        return open_netcdf4_cube(spark, _netcdf4_file(
            str(tmp_path / "c.nc"), aligned=reader == "netcdf4"))
    if reader == "kerchunk_json":
        refs = str(tmp_path / "refs.json")
        write_kerchunk_refs(_zarr_store(spark, str(tmp_path / "z")), refs)
        return open_kerchunk_cube(spark, refs)
    refs_dir = str(tmp_path / "refs")
    virtualize_netcdf4_mf_parquet(
        spark, [_netcdf4_file(str(tmp_path / "c.nc"))], refs_dir)
    return open_kerchunk_parquet_cube(spark, refs_dir)


@pytest.mark.parametrize("reader", list(READER_SCHEMAS))
def test_open_zarr_cube_plan_has_no_axis_join(spark, tmp_path, reader):
    """The coordinates come out of the chunk generator: the optimized
    plan of every gridded reader has no Join and no LocalRelation (axis
    or task table), and its schema is the cells schema."""
    cube = _reader_cube(spark, tmp_path, reader)
    opt = cube._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in opt and "LocalRelation" not in opt, opt
    assert cube.schema.simpleString() == READER_SCHEMAS[reader]


@pytest.mark.parametrize("case", ["f8", "f4", "noleap_int", "x_chunked"])
def test_open_zarr_cube_axis_schema_and_values(spark, tmp_path, case):
    """Axis columns keep their types whatever the stored dtype: a
    ``<f4`` coordinate decodes to DOUBLE like ``<f8`` (CF decode is
    float64), and an integer noleap time axis decodes to TIMESTAMP.
    An axis stored in several chunks is read whole."""
    import datetime as dt

    from xcube_spark.sources.zarrio import open_zarr_cube

    axes = {
        "f8": {},
        "f4": {"y": ([67.5, 22.5, -22.5, -67.5], "<f4", {})},
        "noleap_int": {"time": ([0, 59, 400], "<i8", {
            "units": "days since 2000-01-01", "calendar": "noleap"})},
        "x_chunked": {"x": ([-180.0 + (i + 0.5) * 45.0 for i in range(8)],
                            "<f8", {}, 4)},
    }[case]
    cube = open_zarr_cube(spark, _zarr_store(spark, str(tmp_path / case),
                                             axes))
    assert cube.schema.simpleString() == ZARR_SCHEMA
    assert all(f.nullable for f in cube.schema.fields)
    rows = cube.collect()
    assert len(rows) == ZGRID.size
    by_cell = {(r.t_i, r.y_i, r.x_i): r for r in rows}
    r = by_cell[(2, 0, 3)]
    assert r.x == -180.0 + 3.5 * 45.0 and r.v == 2.0 + r.x
    if case == "f4":
        assert r.y == 67.5
    else:
        assert r.y == -90.0 + 0.5 * 45.0
    if case == "noleap_int":
        # day 400 of a 365-day calendar: 2001-01-01 + 35 days
        assert by_cell[(1, 0, 0)].time == dt.datetime(2000, 3, 1)
        assert r.time == dt.datetime(2001, 2, 5)
    else:
        assert r.time == dt.datetime(2010, 1, 3, 12)


def test_open_zarr_cube_short_axis_raises(spark, tmp_path):
    from xcube_spark.sources.hdf5 import open_netcdf4_cube
    from xcube_spark.sources.zarrio import open_zarr_cube

    path = _zarr_store(spark, str(tmp_path / "z"),
                       {"x": (list(range(7)), "<f8", {})})
    with pytest.raises(ValueError, match="axis 'x'"):
        open_zarr_cube(spark, path)
    path = _netcdf4_file(str(tmp_path / "short.nc"), n_lat=5)
    with pytest.raises(ValueError, match="axis 'y'"):
        open_netcdf4_cube(spark, path)


def test_zarr_point_statistics_job_count(spark, tmp_path):
    """A point-statistics request on an opened cube starts at most two
    jobs: the aggregate's shuffle stage and its result stage — no
    broadcast jobs for axis tables."""
    from xcube_spark.operators.statistics import compute_statistics
    from xcube_spark.sources.zarrio import open_zarr_cube

    path = _zarr_store(spark, str(tmp_path / "z"))
    sc = spark.sparkContext
    sc.setJobGroup("zarr-point-stats", "point statistics on a zarr cube")
    try:
        row = compute_statistics(
            open_zarr_cube(spark, path), "v",
            mask=(F.col("x_i") == 1) & (F.col("y_i") == 2)).collect()[0]
        jobs = sc.statusTracker().getJobIdsForGroup("zarr-point-stats")
    finally:
        sc.setJobGroup("", "")
    assert row["count"] == ZGRID.time_periods
    assert len(jobs) <= 2, jobs


def test_zarr_timeseries_request_job_count(spark, tmp_path):
    """A /timeseries request on an opened zarr cube starts at most two
    jobs: the aggregate's shuffle stage and its result stage — the
    time order comes from a single-partition local sort, with no
    range-sampling job and no sort shuffle."""
    from xcube_spark.server import CubeServer
    from xcube_spark.sources.zarrio import open_zarr_cube

    path = _zarr_store(spark, str(tmp_path / "z"))
    srv = CubeServer(spark)
    srv.add_dataset("z", open_zarr_cube(spark, path), ZGRID)
    sc = spark.sparkContext
    sc.setJobGroup("zarr-timeseries", "time series request on a zarr cube")
    try:
        out = srv._timeseries("z", "v", {"aggMethods": "mean,max",
                                         "bbox": "-180,-90,0,90"})
        jobs = sc.statusTracker().getJobIdsForGroup("zarr-timeseries")
    finally:
        sc.setJobGroup("", "")
    times = [r["time"] for r in out["result"]]
    assert len(times) == ZGRID.time_periods and times == sorted(times)
    assert len(jobs) <= 2, jobs
