"""Sources & maintenance tests: IO facade round-trips, store contract,
time-slice maintenance (logical + physical), chunk ops, normalize,
verify (xcube test/core/test_dsio.py / test_store / test_timeslice /
test_chunk / test_normalize / test_verify analogs)."""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube
from xcube_spark.operators.maintenance import (
    chunk_dataset,
    get_empty_dataset_chunks,
    normalize_dataset,
    optimize_dataset,
    prune_dataset,
    verify_cube,
)
from xcube_spark.sources import (
    append_time_slice,
    find_time_slice,
    guess_format,
    insert_time_slice,
    new_data_store,
    open_dataset,
    replace_time_slice,
    update_time_slice,
    write_dataset,
)
from xcube_spark.sources.store import describe_dataframe

GRID = CubeGrid(width=8, height=4, time_periods=4, x_res=45.0, y_res=45.0,
                chunks=(1, 2, 4))
VARS = {"v": lambda ns: (10 * ns["t_i"] + ns["x_i"]).cast("double")}


@pytest.fixture(scope="module")
def cube(spark):
    return new_cube(spark, GRID, VARS).cache()


# ---- dsio -------------------------------------------------------------


def test_guess_format():
    assert guess_format("/a/b/cube.parquet") == "parquet"
    assert guess_format("/a/b/points.csv") == "csv"
    assert guess_format("/a/b/feed.jsonl") == "json"
    assert guess_format("/a/b/whatever") == "parquet"


def test_roundtrip_parquet_csv(spark, cube, tmp_path):
    for fmt in ("parquet", "csv"):
        path = str(tmp_path / f"rt.{fmt}")
        write_dataset(cube, path)
        back = open_dataset(spark, path)
        assert back.count() == cube.count()
        got = back.agg(F.sum("v")).collect()[0][0]
        want = cube.agg(F.sum("v")).collect()[0][0]
        assert got == pytest.approx(want)


# ---- store ------------------------------------------------------------


def test_fs_store_contract(spark, cube, tmp_path):
    store = new_data_store("file", spark, root=str(tmp_path / "store"))
    assert list(store.get_data_ids()) == []
    store.write_data(cube, "cube.parquet")
    assert store.has_data("cube.parquet")
    assert list(store.search_data("cube")) == ["cube.parquet"]
    assert store.open_data("cube.parquet").count() == GRID.size
    desc = store.describe_data("cube.parquet")
    assert desc.num_rows == GRID.size
    assert desc.dims == {"t_i": 4, "y_i": 4, "x_i": 8}
    assert desc.bbox == (-157.5, -67.5, 157.5, 67.5)
    (v,) = [d for d in desc.variables if d.name == "v"]
    assert v.n_valid == GRID.size and v.vmin == 0.0 and v.vmax == 37.0
    store.delete_data("cube.parquet")
    assert not store.has_data("cube.parquet")
    with pytest.raises(FileNotFoundError):
        store.open_data("cube.parquet")


def test_memory_store_contract(spark, cube):
    store = new_data_store("memory", spark)
    store.write_data(cube, "c1")
    assert store.has_data("c1")
    assert store.open_data("c1").count() == GRID.size
    store.delete_data("c1")
    assert not store.has_data("c1")


# ---- time slices ------------------------------------------------------


def _slice(spark, t_i, fill):
    g = CubeGrid(**{**GRID.__dict__, "time_periods": t_i + 1})
    s = new_cube(spark, g, {"v": float(fill)}).where(F.col("t_i") == t_i)
    return s


def test_find_time_slice(spark, cube):
    t_exact = GRID.t_center(2)
    assert find_time_slice(cube, t_exact) == (2, "replace")
    assert find_time_slice(cube, "2009-01-01") == (0, "insert")
    assert find_time_slice(cube, "2011-01-01") == (4, "append")


def test_logical_slice_ops(spark, cube):
    plane = GRID.width * GRID.height
    app = append_time_slice(cube, _slice(spark, 4, 99.0))
    assert app.count() == GRID.size + plane
    assert app.where(F.col("t_i") == 4).agg(F.min("v")).collect()[0][0] == 99.0

    ins = insert_time_slice(cube, _slice(spark, 1, 77.0), t_i=1)
    assert ins.count() == GRID.size + plane
    assert ins.where(F.col("t_i") == 1).agg(F.min("v")).collect()[0][0] == 77.0
    # previous slice 1 shifted to 2: its v = 10*1 + x_i
    assert ins.where(F.col("t_i") == 2).agg(F.min("v")).collect()[0][0] == 10.0

    rep = replace_time_slice(cube, _slice(spark, 2, 55.0), t_i=2)
    assert rep.count() == GRID.size
    assert rep.where(F.col("t_i") == 2).agg(F.max("v")).collect()[0][0] == 55.0


def test_physical_partition_overwrite(spark, cube, tmp_path):
    path = str(tmp_path / "cube_parts")
    cube.write.partitionBy("t_i").parquet(path)
    update_time_slice(spark, path, _slice(spark, 2, 55.0), mode="replace")
    back = spark.read.parquet(path)
    assert back.count() == GRID.size
    assert back.where("t_i = 2").agg(F.max("v")).collect()[0][0] == 55.0
    assert back.where("t_i = 1").agg(F.min("v")).collect()[0][0] == 10.0
    # append a new slice -> only new partition added
    update_time_slice(spark, path, _slice(spark, 4, 99.0), mode="append")
    assert spark.read.parquet(path).count() == GRID.size + GRID.width * GRID.height


# ---- chunk ops --------------------------------------------------------


def test_chunk_and_empty_chunks(spark):
    cube = new_cube(spark, GRID, {
        # chunk (1,2,4): all-NULL wherever t_i=0 and y_i<2 and x_i<4
        "v": lambda ns: F.when(
            (ns["t_i"] == 0) & (ns["y_i"] < 2) & (ns["x_i"] < 4),
            F.lit(None).cast("double"),
        ).otherwise(F.lit(1.0)),
    })
    keyed = chunk_dataset(cube, GRID)
    assert "chunk_id" in keyed.columns
    empty = get_empty_dataset_chunks(cube, GRID)
    assert empty.count() == 1

    pruned = prune_dataset(cube, GRID)
    assert pruned.count() == GRID.size - 1 * 2 * 4
    assert optimize_dataset(pruned, 2).rdd.getNumPartitions() == 2


# ---- normalize + verify ----------------------------------------------


def test_normalize_lon_and_y(spark):
    g360 = CubeGrid(width=8, height=4, time_periods=2, x_start=0.0,
                    x_res=45.0, y_res=45.0, inverse_y=True)
    cube = new_cube(spark, g360, {"v": 1.0})
    out, g = normalize_dataset(cube, g360)
    assert g.x_start == -180.0 and not g.inverse_y
    assert verify_cube(out, g) == []
    xs = [r[0] for r in out.select("x").distinct().collect()]
    assert min(xs) == -157.5 and max(xs) == 157.5


def test_verify_cube_reports(spark, cube):
    assert verify_cube(cube, GRID) == []
    bad = cube.withColumn("x", F.col("x") + 1.0)
    assert any("x != center" in r for r in verify_cube(bad, GRID))
    dup = cube.unionByName(cube.limit(5))
    assert any("duplicate" in r for r in verify_cube(dup, GRID))


def test_prune_then_read_with_fill(spark):
    """The empty-chunk round trip: prune deletes all-NULL chunks, the
    fill-aware reader re-densifies with the declared fill value."""
    from xcube_spark.operators.maintenance import read_with_fill

    cube = new_cube(spark, GRID, {
        "v": lambda ns: F.when(
            (ns["t_i"] == 0) & (ns["y_i"] < 2) & (ns["x_i"] < 4),
            F.lit(None).cast("double"),
        ).otherwise(F.lit(1.0)),
    })
    pruned = prune_dataset(cube, GRID)
    assert pruned.count() == GRID.size - 8

    dense = read_with_fill(pruned, GRID, fill_values={"v": -9999.0})
    assert dense.count() == GRID.size
    filled = dense.where(F.col("v") == -9999.0)
    assert filled.count() == 8
    assert dense.where(F.col("v").isNull()).count() == 0


def test_cube_layout_footer_stats(spark, tmp_path):
    """The layout contract, checked against the actual parquet footers:
    every data file covers a narrow y_i band, so bbox predicates can
    skip most files/row groups via min/max stats."""
    import glob

    import pyarrow.parquet as pq

    from xcube_spark.sources.layout import open_cube_layout, write_cube_layout

    grid = CubeGrid(width=32, height=32, time_periods=4, x_res=11.25,
                    y_res=5.625, chunks=(2, 8, 8))
    cube = new_cube(spark, grid, {"v": 1.0})
    path = str(tmp_path / "layout")
    write_cube_layout(cube, path, grid, files_per_partition=4)

    # time partitioning: one dir per 2-step time chunk
    parts = sorted(glob.glob(f"{path}/t_part=*"))
    assert len(parts) == 2

    # each file's y_i span must be a narrow band, and the bands must
    # tile the axis (union of spans covers 0..31 with little overlap)
    spans = []
    for f in glob.glob(f"{path}/t_part=*/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo = min(md.row_group(g).column(idx["y_i"]).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx["y_i"]).statistics.max
                 for g in range(md.num_row_groups))
        spans.append((lo, hi))
        assert hi - lo < grid.height / 2  # narrow band, not full axis

    back = open_cube_layout(spark, path)
    assert back.count() == grid.size
    assert "t_part" not in back.columns


def test_find_time_slice_empty_cube(spark):
    """An empty cube reports append-at-0 instead of TypeError."""
    from xcube_spark.sources.timeslice import find_time_slice

    empty = spark.createDataFrame([], "t_i int, time timestamp")
    assert find_time_slice(empty, "2010-01-01") == (0, "append")


# ---- zarr v2 (sources/zarrio.py) ---------------------------------------


def _small_grid():
    from xcube_spark.cube.grid import CubeGrid

    return CubeGrid(width=12, height=6, time_periods=2, x_res=30.0,
                    y_res=30.0, chunks=(1, 4, 5))


def test_zarr_roundtrip_bitexact(spark, tmp_path):
    """write -> read round-trips values, coords, NULLs bit-for-bit,
    including edge chunks (12/5 and 6/4 don't divide evenly)."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i",
                                  "B": ("uniform", 3, 0.3)})
    path = str(tmp_path / "rt.zarr")
    write_zarr_cube(cube, path, grid)
    back = open_zarr_cube(spark, path)
    assert back.columns == ["t_i", "y_i", "x_i", "time", "y", "x", "A", "B"]
    assert back.count() == grid.size
    diff = cube.exceptAll(back.select(*cube.columns)).count()
    assert diff == 0
    assert (back.where(F.col("B").isNull()).count()
            == cube.where(F.col("B").isNull()).count())


#: 1024-cell chunks: with 777-row Arrow batches each chunk spans two batches
WGRID = CubeGrid(width=40, height=30, time_periods=4, x_res=9.0, y_res=6.0,
                 chunks=(2, 16, 32))
WVARS = {"v": "CAST(t_i AS DOUBLE) + 0.1 * y",
         "nul": "CASE WHEN (x_i + y_i) % 3 = 0 THEN NULL ELSE x * 0.5 END",
         "late": "CASE WHEN t_i >= 2 THEN NULL ELSE y END",
         "i": "CAST(x_i * 7 - y_i AS INT)",
         "b": "x_i % 2 = 0"}
WCASES = {
    "v2": ("true", {}),
    "sparse": ("t_i < 2 OR x_i < 16", {}),
    "v3_shards": ("true", {"zarr_format": 3, "shards": (2, 32, 64)}),
    "packed": ("true", {"encoding": {
        "v": {"dtype": "<i2", "scale_factor": 0.01, "add_offset": 1.0,
              "fill_value": -32768},
        "nul": {"dtype": "<i2", "scale_factor": 0.5, "fill_value": -1}}}),
    "empty": ("false", {}),
}


def _reference_zarr(cube, path, grid, names, **kw):
    """What ``write_zarr_cube`` must write, built on the driver: the
    metadata of an empty write, then every chunk that holds a cell of
    ``cube``, encoded from the collected cells."""
    import numpy as np

    from xcube_spark.sources.zarrio import (_write_bytes, encode_chunk,
                                            encode_values, read_store,
                                            write_zarr_cube)

    assert write_zarr_cube(cube.where("false"), path, grid, names, **kw) == 0
    metas = read_store(path)
    chunks = metas[names[0]].chunks
    shape = [c * n for c, n in zip(chunks, metas[names[0]].chunk_counts())]
    data = {v: np.full(shape, np.nan) for v in names}
    keys = set()
    for r in cube.select("t_i", "y_i", "x_i", *[
            F.col(v).cast("double") for v in names]).collect():
        keys.add(tuple(i // c for i, c in zip(r[:3], chunks)))
        for v, val in zip(names, r[3:]):
            data[v][r[:3]] = np.nan if val is None else val
    for key in keys:
        cell = tuple(slice(k * c, (k + 1) * c) for k, c in zip(key, chunks))
        for v in names:
            meta = metas[v]
            enc = encode_chunk(encode_values(data[v][cell], meta), meta)
            if enc is not None:
                _write_bytes(os.path.join(path, v, meta.chunk_key(*key)), enc)


def _store_files(path):
    """``{relative path: bytes}`` of a store."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = f.read()
    return out


@pytest.mark.parametrize("case", list(WCASES))
def test_zarr_writer_matches_reference(spark, tmp_path, case):
    """The streaming writer's store is byte-identical to a driver-side
    reference write — NULL, INT and BOOLEAN variables, v3 shards (an
    all-fill shard is skipped), CF int16 packing, a sparse cube and an
    empty one (0 objects, metadata only) — with chunks that span Arrow
    batches."""
    from xcube_spark.sources.zarrio import write_zarr_cube

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    where, kw = WCASES[case]
    cube = new_cube(spark, WGRID, WVARS).where(where)
    names = list(WVARS)
    old = spark.conf.get(key)
    spark.conf.set(key, "777")
    try:
        n = write_zarr_cube(cube, str(tmp_path / "w"), WGRID, **kw)
    finally:
        spark.conf.set(key, old)
    _reference_zarr(cube, str(tmp_path / "ref"), WGRID, names, **kw)
    got, want = _store_files(tmp_path / "w"), _store_files(tmp_path / "ref")
    assert sorted(got) == sorted(want)
    assert got == want
    objects = [p for p in got if p.split(os.sep)[0] in names and
               os.path.basename(p) not in (".zarray", ".zattrs", "zarr.json")]
    assert n == len(objects) and (n == 0) == (case == "empty")
    if case == "v3_shards":  # all-fill shard: no object
        assert os.path.join("late", "c", "1", "0", "0") not in got


def test_chunk_store_nan_is_null(spark):
    """NaN from a chunk store's ``get_data`` is a NULL cell."""
    import numpy as np

    from xcube_spark.sources.chunkstore import open_chunk_store

    def get_data(chunk_idx, bounds):
        t0, t1, y0, y1, x0, x1 = bounds
        a = np.ones((t1 - t0, y1 - y0, x1 - x0))
        a[:, 0, :] = np.nan
        return {"V": a}

    virt = open_chunk_store(spark, GRID, get_data, ["V"])
    assert virt.where(F.isnan("V")).count() == 0
    nulls = virt.where(F.col("V").isNull())
    assert nulls.count() == GRID.time_periods * 2 * GRID.width
    assert {r.y_i for r in nulls.select("y_i").distinct().collect()} == {0, 2}


def test_zarr_write_raises_no_user_warning(spark, tmp_path):
    """The chunk writer's mapInArrow function carries no partial type
    hints, so pyspark has no eval type to (fail to) infer and warns
    nothing."""
    import warnings

    from xcube_spark.sources.zarrio import write_zarr_cube

    grid = _small_grid()
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        n = write_zarr_cube(new_cube(spark, grid, {"A": 1.0}),
                            str(tmp_path / "w.zarr"), grid)
    assert n > 0


def test_zarr_cf_packing(spark, tmp_path):
    """int16 + scale/offset/_FillValue packing decodes NULLs and values
    like the reference's CF decode (dsio.py ZarrDatasetIO semantics)."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import (open_zarr_cube, read_store,
                                            write_zarr_cube)

    grid = _small_grid()
    cube = new_cube(spark, grid, {"V": ("uniform", 9, 0.2)})
    path = str(tmp_path / "cf.zarr")
    write_zarr_cube(cube, path, grid, encoding={
        "V": {"dtype": "<i2", "scale_factor": 0.0009765625,
              "add_offset": 0.0, "fill_value": -32768}})
    meta = read_store(path)["V"]
    assert meta.dtype == "<i2" and meta.attrs["scale_factor"] == 0.0009765625
    back = open_zarr_cube(spark, path)
    # NULLs preserved through the fill value
    assert (back.where(F.col("V").isNull()).count()
            == cube.where(F.col("V").isNull()).count())
    # quantization error bounded by half a quantum
    joined = cube.select("t_i", "y_i", "x_i", F.col("V").alias("orig")) \
        .join(back.select("t_i", "y_i", "x_i", "V"), ["t_i", "y_i", "x_i"])
    bad = joined.where(
        F.abs(F.col("V") - F.col("orig")) > 0.0009765625 / 2 * 1.0001).count()
    assert bad == 0


def test_zarr_missing_chunk_is_fill(spark, tmp_path):
    """A missing chunk file reads as fill (-> NULL), per the v2 spec."""
    import os

    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": 1.0})
    path = str(tmp_path / "gap.zarr")
    write_zarr_cube(cube, path, grid)
    os.remove(os.path.join(path, "A", "0.0.0"))
    back = open_zarr_cube(spark, path)
    nulls = back.where(F.col("A").isNull())
    assert nulls.count() == 1 * 4 * 5  # exactly the dropped chunk's cells
    assert nulls.where((F.col("t_i") > 0) | (F.col("y_i") >= 4)
                       | (F.col("x_i") >= 5)).count() == 0


def test_zarr_format_dispatch(spark, tmp_path):
    """dsio open_dataset/write_dataset route .zarr paths to zarrio."""
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.dsio import guess_format, open_dataset, write_dataset

    grid = _small_grid()
    assert guess_format("/data/cube.zarr") == "zarr"
    path = str(tmp_path / "disp.zarr")
    write_dataset(new_cube(spark, grid, {"A": 2.0}), path, grid=grid)
    back = open_dataset(spark, path)
    assert back.count() == grid.size


def test_zarr_time_units():
    from xcube_spark.sources.zarrio import parse_time_units

    epoch, per = parse_time_units("days since 2010-01-01")
    assert per == 86400.0 and epoch == 1262304000.0
    epoch2, per2 = parse_time_units("hours since 2000-01-01 12:00:00")
    assert per2 == 3600.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_time_units("fortnights since 2000-01-01")


def test_decode_julian_time(spark):
    """JD -> calendar date (normalize.py:465): JD 2451545.0 is
    2000-01-01 noon -> date 2000-01-01; the attribute gate only fires
    on 'time in julian days'."""
    from datetime import datetime

    from xcube_spark.operators.maintenance import decode_julian_time

    df = spark.createDataFrame([(2451545.0,), (2451545.5,)], ["time"])
    out = decode_julian_time(df, "time",
                             attrs={"units": "Time in Julian days"})
    got = sorted(r["time"] for r in out.collect())
    assert got == [datetime(2000, 1, 1), datetime(2000, 1, 2)]
    # non-julian attrs leave the column untouched
    same = decode_julian_time(df, "time", attrs={"units": "seconds"})
    assert sorted(r["time"] for r in same.collect()) == [2451545.0, 2451545.5]


def test_normalize_2d_coords(spark):
    """Equi-rectangular 2-D lat/lon collapse to 1-D axes; irregular
    grids just drop the 2-D columns (normalize.py:330)."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.maintenance import normalize_2d_coords

    grid = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                    y_res=45.0)
    cube = new_cube(spark, grid, {"A": 1.0})
    # regular: lat depends only on y_i, lon only on x_i
    reg = cube.withColumns({
        "lat": F.col("y_i") * 2.0 + 0.5,
        "lon": F.col("x_i") * 3.0 - 1.0,
    })
    out = normalize_2d_coords(reg)
    assert "lat" not in out.columns and "lon" not in out.columns
    row = out.where((F.col("y_i") == 2) & (F.col("x_i") == 5)).first()
    assert row["y"] == 4.5 and row["x"] == 14.0
    # irregular: collapse refused, 2-D columns dropped
    irr = cube.withColumns({
        "lat": F.col("y_i") * 2.0 + F.col("x_i") * 0.1,
        "lon": F.col("x_i") * 3.0,
    })
    out2 = normalize_2d_coords(irr)
    assert "lat" not in out2.columns
    assert out2.select("y").distinct().count() == grid.height  # unchanged


# ---- vector features (sources/features.py) -----------------------------


def test_geojson_feature_collection(spark, tmp_path):
    """FeatureCollection -> WKT-features DataFrame; feeds find_places."""
    import json

    from xcube_spark.operators.geom import find_places
    from xcube_spark.sources.features import open_geojson_features

    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": "p1",
         "geometry": {"type": "Point", "coordinates": [10.0, 20.0]},
         "properties": {"name": "alpha", "pop": 100}},
        {"type": "Feature",
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4],
                                       [0, 0]]]},
         "properties": {"name": "beta", "pop": 7}},
        {"type": "Feature", "id": "p3",
         "geometry": {"type": "MultiPolygon",
                      "coordinates": [[[[30, 30], [32, 30], [32, 32],
                                        [30, 30]]]]},
         "properties": {"name": "gamma", "pop": 3}},
    ]}
    path = str(tmp_path / "places.geojson")
    with open(path, "w") as f:
        json.dump(fc, f)
    feats = open_geojson_features(spark, path)
    assert set(feats.columns) == {"feature_id", "geometry", "name", "pop"}
    assert feats.count() == 3
    wkts = {r["feature_id"]: r["geometry"] for r in feats.collect()}
    assert wkts["p1"] == "POINT(10.0 20.0)"
    assert wkts["1"].startswith("POLYGON((0 0, 4 0")
    # bbox query through find_places
    hits = find_places(feats, query_geometry=[0.0, 0.0, 11.0, 21.0])
    assert sorted(r["name"] for r in hits.collect()) == ["alpha", "beta"]


def test_geojson_ndjson_distributed(spark, tmp_path):
    """Newline-delimited features parse via the distributed text path."""
    import json

    from xcube_spark.sources.features import open_geojson_features

    path = str(tmp_path / "seq.geojson")
    with open(path, "w") as f:
        for i in range(25):
            f.write(json.dumps({
                "type": "Feature", "id": i,
                "geometry": {"type": "Point",
                             "coordinates": [float(i), float(-i)]},
                "properties": {"k": i}}) + "\n")
    feats = open_geojson_features(spark, path)
    assert feats.count() == 25
    assert feats.columns == ["feature_id", "geometry", "properties"]


def test_shapefile_roundtrip(spark, tmp_path):
    """A minimal hand-built .shp/.dbf pair parses into WKT features
    (point + polygon with hole; N/C dbf fields)."""
    import struct

    from xcube_spark.sources.features import open_shapefile_features

    def shp_header(length_words, shape_type):
        h = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, length_words)
        h += struct.pack("<2i", 1000, shape_type)
        h += struct.pack("<8d", 0, 0, 10, 10, 0, 0, 0, 0)
        return h

    # record 1: point (2,3); record 2: polygon with hole
    rec1 = struct.pack("<i2d", 1, 2.0, 3.0)
    outer = [(0, 0), (0, 8), (8, 8), (8, 0), (0, 0)]   # clockwise
    hole = [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]    # ccw
    pts = outer + hole
    rec2 = struct.pack("<i", 5) + struct.pack("<4d", 0, 0, 8, 8)
    rec2 += struct.pack("<2i", 2, len(pts)) + struct.pack("<2i", 0, 5)
    for x, y in pts:
        rec2 += struct.pack("<2d", float(x), float(y))
    body = b""
    for i, rec in enumerate((rec1, rec2), start=1):
        body += struct.pack(">2i", i, len(rec) // 2) + rec
    shp_path = str(tmp_path / "f.shp")
    with open(shp_path, "wb") as f:
        f.write(shp_header((100 + len(body)) // 2, 5) + body)
    # dbf: NAME (C,8), VAL (N,5)
    dbf = struct.pack("<B3Bi2H20x", 3, 24, 1, 1, 2, 32 + 32 * 2 + 1, 1 + 8 + 5)
    dbf += b"NAME\x00\x00\x00\x00\x00\x00\x00C\x00\x00\x00\x00" + bytes([8]) + b"\x00" * 15
    dbf += b"VAL\x00\x00\x00\x00\x00\x00\x00\x00N\x00\x00\x00\x00" + bytes([5]) + b"\x00" * 15
    dbf += b"\x0d"
    dbf += b" " + b"first   " + b"   42"
    dbf += b" " + b"second  " + b"    7"
    with open(str(tmp_path / "f.dbf"), "wb") as f:
        f.write(dbf)

    feats = open_shapefile_features(spark, shp_path)
    rows = {r["feature_id"]: r for r in feats.collect()}
    assert rows["0"]["geometry"] == "POINT(2.0 3.0)"
    assert rows["0"]["NAME"] == "first" and rows["0"]["VAL"] == 42
    g = rows["1"]["geometry"]
    assert g.startswith("POLYGON((0.0 0.0") and g.count("(") == 3  # hole ring
    assert rows["1"]["VAL"] == 7


def test_zarr_cf_grid_mapping(spark, tmp_path):
    """The store carries a CF grid-mapping variable; CRS round-trips
    through the CF attrs for 4326/3857/UTM."""
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import (cf_grid_mapping_attrs,
                                            crs_from_grid_mapping,
                                            read_store, write_zarr_cube)

    grid = _small_grid()
    path = str(tmp_path / "cf_gm.zarr")
    write_zarr_cube(new_cube(spark, grid, {"A": 1.0}), path, grid)
    arrays = read_store(path)
    gm = arrays["crs"].attrs
    assert gm["grid_mapping_name"] == "latitude_longitude"
    assert arrays["A"].attrs["grid_mapping"] == "crs"
    assert crs_from_grid_mapping(gm) == "EPSG:4326"
    for crs in ("EPSG:3857", "EPSG:32633", "EPSG:32719"):
        attrs = cf_grid_mapping_attrs(crs)
        assert crs_from_grid_mapping(attrs) == crs
        attrs.pop("epsg_code")  # derive from parameters alone
        assert crs_from_grid_mapping(attrs) == crs


# ---- GeoTIFF (sources/geotiff.py) --------------------------------------


def test_geotiff_roundtrip(spark, tmp_path):
    """Tiled DEFLATE multi-band float64 GeoTIFF round-trips bit-exact,
    NULLs through GDAL_NODATA, georef through scale+tiepoint."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.geotiff import (_read_ifds, open_geotiff_cube,
                                             write_geotiff)

    grid = CubeGrid(width=50, height=30, time_periods=1, x_res=1.0,
                    y_res=1.0, x_start=10.0, y_start=40.0)
    cube = new_cube(spark, grid, {"A": "CAST(y_i * 100 + x_i AS DOUBLE)",
                                  "B": ("uniform", 5, 0.2)})
    path = str(tmp_path / "rt.tif")
    write_geotiff(cube, path, ["A", "B"], width=50, height=30, tile=16,
                  x_start=10.0, y_end=70.0, res=1.0, epsg=4326)
    ifd = _read_ifds(path)[0]
    assert ifd.tiled and ifd.crs == "EPSG:4326" and ifd.nodata == -9999.0
    back = open_geotiff_cube(spark, path, band_names=["A", "B"])
    assert back.count() == 1500
    j = cube.select("y_i", "x_i", "A", "B").join(
        back.select("y_i", "x_i", F.col("A").alias("A2"),
                    F.col("B").alias("B2")), ["y_i", "x_i"])
    assert j.where(F.col("A") != F.col("A2")).count() == 0
    assert j.where(F.col("B").isNull() != F.col("B2").isNull()).count() == 0
    r = back.where((F.col("y_i") == 0) & (F.col("x_i") == 0)).first()
    assert (r["y"], r["x"]) == (69.5, 10.5)


def test_geotiff_format_dispatch(spark, tmp_path):
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.dsio import guess_format, open_dataset, write_dataset

    assert guess_format("/data/scene.tif") == "geotiff"
    grid = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                    y_res=45.0)
    path = str(tmp_path / "d.tif")
    write_dataset(new_cube(spark, grid, {"v": 7.0}), path,
                  var_names=["v"], width=8, height=4)
    back = open_dataset(spark, path, band_names=["v"])
    assert back.count() == 32


def test_geotiff_unsupported_features(tmp_path):
    import pytest as _pytest

    from xcube_spark.sources.geotiff import _read_ifds

    bad = tmp_path / "x.tif"
    bad.write_bytes(b"GARBAGE!")
    with _pytest.raises(ValueError, match="not a TIFF"):
        _read_ifds(str(bad))


def test_geotiff_cog_overviews(spark, tmp_path):
    """A COG-style file (overview IFDs) opens as a lazy pyramid."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.geotiff import open_geotiff_levels, write_geotiff

    grid = CubeGrid(width=32, height=16, time_periods=1, x_res=1.0,
                    y_res=1.0, x_start=0.0, y_start=0.0)
    cube = new_cube(spark, grid, {"v": "CAST(y_i * 32 + x_i AS DOUBLE)"})
    path = str(tmp_path / "cog.tif")
    write_geotiff(cube, path, ["v"], width=32, height=16, tile=8,
                  x_start=0.0, y_end=16.0, res=1.0, overviews=2)
    mlds = open_geotiff_levels(spark, path, band_names=["v"])
    assert mlds.num_levels == 3
    assert mlds.grid(0).width == 32 and mlds.grid(1).width == 16
    assert mlds.get_dataset(0).count() == 32 * 16
    l1 = mlds.get_dataset(1)
    assert l1.count() == 16 * 8
    # decimation: overview (0,0) = base (0,0)
    assert l1.where((F.col("y_i") == 0) & (F.col("x_i") == 0))\
        .first()["v"] == 0.0
    assert mlds.get_dataset(2).count() == 8 * 4


def test_kerchunk_reference_store(spark, tmp_path):
    """kerchunk refs over a zarr store: packed-blob byte ranges and
    inline metadata resolve to the identical cube."""
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import (open_kerchunk_cube,
                                            open_zarr_cube,
                                            write_kerchunk_refs,
                                            write_zarr_cube)

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "CAST(t_i * 10 + y_i AS DOUBLE)",
                                  "B": ("uniform", 11, 0.3)})
    zp = str(tmp_path / "src.zarr")
    write_zarr_cube(cube, zp, grid)
    refs_path = str(tmp_path / "refs.json")
    blob = str(tmp_path / "packed.bin")
    n = write_kerchunk_refs(zp, refs_path, pack=blob)
    assert n > 10
    direct = open_zarr_cube(spark, zp)
    virtual = open_kerchunk_cube(spark, refs_path)
    assert virtual.columns == direct.columns
    assert direct.exceptAll(virtual).count() == 0
    assert virtual.count() == grid.size


# ---- classic NetCDF (sources/netcdf3.py) -------------------------------


def test_netcdf3_roundtrip(spark, tmp_path):
    """CDF-1 write -> read round-trips values, coords, CF time, NULLs."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.netcdf3 import (open_netcdf_cube,
                                             read_netcdf_header,
                                             write_netcdf_cube)

    grid = CubeGrid(width=20, height=10, time_periods=3, x_res=18.0,
                    y_res=18.0)
    cube = new_cube(spark, grid,
                    {"A": "CAST(t_i * 1000 + y_i * 20 + x_i AS DOUBLE)",
                     "B": ("uniform", 3, 0.25)})
    path = str(tmp_path / "rt.nc")
    write_netcdf_cube(cube, path, grid)
    nc = read_netcdf_header(path)
    assert [d[0] for d in nc.dims] == ["time", "lat", "lon"]
    assert nc.gattrs["Conventions"] == "CF-1.8"
    back = open_netcdf_cube(spark, path)
    cols = ["t_i", "y_i", "x_i", "time", "y", "x", "A", "B"]
    assert back.columns == cols
    assert cube.select(*cols).exceptAll(back.select(*cols)).count() == 0
    assert (back.where(F.col("B").isNull()).count()
            == cube.where(F.col("B").isNull()).count())


def test_netcdf3_format_dispatch_and_errors(spark, tmp_path):
    import pytest as _pytest

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.dsio import guess_format, open_dataset, write_dataset
    from xcube_spark.sources.netcdf3 import read_netcdf_header

    assert guess_format("/data/cube.nc") == "netcdf"
    grid = CubeGrid(width=8, height=4, time_periods=2, x_res=45.0,
                    y_res=45.0)
    path = str(tmp_path / "d.nc")
    write_dataset(new_cube(spark, grid, {"v": 5.0}), path, grid=grid)
    assert open_dataset(spark, path).count() == grid.size

    bad = tmp_path / "x.nc"
    bad.write_bytes(b"\x89HDF\r\n")  # netCDF4/HDF5 magic
    with _pytest.raises(ValueError, match="not a classic NetCDF"):
        read_netcdf_header(str(bad))


def test_normalize_zonal_to_grid(spark):
    """Zonal-mean rows broadcast across a derived lon axis
    (normalize.py:236); already-gridded data passes through."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.operators.maintenance import normalize_zonal_to_grid

    zonal = spark.createDataFrame(
        [(0, i, -90.0 + (i + 0.5) * 45.0, float(i)) for i in range(4)],
        "t_i int, y_i int, y double, m double")
    out, grid = normalize_zonal_to_grid(zonal, y_res=45.0)
    assert grid.width == 8
    assert out.count() == 4 * 8
    assert out.columns == ["t_i", "y_i", "x_i", "y", "x", "m"]
    row = out.where((F.col("y_i") == 2) & (F.col("x_i") == 0)).first()
    assert row["m"] == 2.0 and row["x"] == -157.5
    # gridded input passes through untouched
    same, _ = normalize_zonal_to_grid(out, CubeGrid())
    assert same is out


def test_zarr_v3_roundtrip_and_layout(spark, tmp_path):
    """zarr_format=3 writes the v3 layout (zarr.json docs, c/i/j/k
    chunk keys, gzip codec) and round-trips bit-for-bit; read_store
    dispatches on the root document."""
    import json
    import os

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import (
        open_zarr_cube, read_store, write_zarr_cube)

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i",
                                  "B": ("uniform", 3, 0.3)})
    path = str(tmp_path / "rt.zarr3")
    write_zarr_cube(cube, path, grid, zarr_format=3)

    root = json.load(open(os.path.join(path, "zarr.json")))
    assert root["zarr_format"] == 3 and root["node_type"] == "group"
    aj = json.load(open(os.path.join(path, "A", "zarr.json")))
    assert aj["data_type"] == "float64"  # default encoding
    assert aj["chunk_key_encoding"]["configuration"]["separator"] == "/"
    # default zlib compressor becomes the v3 gzip codec
    assert [c["name"] for c in aj["codecs"]] == ["bytes", "gzip"]
    assert os.path.exists(os.path.join(path, "A", "c", "0", "0", "0"))
    assert not os.path.exists(os.path.join(path, "A", "0.0.0"))
    assert aj["dimension_names"] == ["time", "y", "x"]

    metas = read_store(path)
    assert metas["A"].zarr_format == 3

    back = open_zarr_cube(spark, path)
    assert back.count() == grid.size
    assert cube.select("t_i", "y_i", "x_i", "A", "B").exceptAll(
        back.select("t_i", "y_i", "x_i", "A", "B")).count() == 0


@pytest.mark.parametrize("shards", [None, (2, 8, 10)])
def test_zarr_v3_write_is_reproducible(spark, tmp_path, shards):
    """One v3 cube written twice, a second apart, gives byte-identical
    stores: the gzip members carry no write time."""
    import time

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import write_zarr_cube

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i",
                                  "B": ("uniform", 3, 0.3)})
    write_zarr_cube(cube, str(tmp_path / "a"), grid, zarr_format=3,
                    shards=shards)
    time.sleep(1.1)  # the gzip header time has one-second resolution
    write_zarr_cube(cube, str(tmp_path / "b"), grid, zarr_format=3,
                    shards=shards)
    first, second = _store_files(tmp_path / "a"), _store_files(tmp_path / "b")
    assert any(p.startswith(os.path.join("A", "c")) for p in first)
    assert first == second


def test_zarr_v3_uncompressed_float(spark, tmp_path):
    """v3 with explicit float64/no-compressor encoding: raw little-
    endian chunks under c/ keys, fill handled via NaN."""
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i"})
    path = str(tmp_path / "raw.zarr3")
    write_zarr_cube(cube, path, grid, zarr_format=3, encoding={
        "A": {"dtype": "<f8", "compressor": None, "fill_value": "NaN",
              "scale_factor": 1.0, "add_offset": 0.0}})
    back = open_zarr_cube(spark, path)
    assert cube.select("t_i", "y_i", "x_i", "A").exceptAll(
        back.select("t_i", "y_i", "x_i", "A")).count() == 0


def test_zorder_layout_prunes_square_bboxes_better(spark, tmp_path):
    """Z-order files bound BOTH x and y extents, so a compact bbox
    intersects fewer files than with the y-band layout (whose files
    span full x). Checked against the real parquet footer stats."""
    import pyarrow.parquet as pq
    import glob as _glob

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.layout import write_cube_layout, z_order_key

    grid = CubeGrid(width=64, height=64, time_periods=1, x_res=5.625,
                    y_res=2.8125)
    cube = new_cube(spark, grid, {"v": 1.0})
    bands_path = str(tmp_path / "bands")
    z_path = str(tmp_path / "zorder")
    write_cube_layout(cube, bands_path, grid, files_per_partition=64)
    write_cube_layout(cube, z_path, grid, files_per_partition=64,
                      layout="zorder")

    bbox = (16, 31, 16, 31)  # 16x16 window

    def files_hit(path):
        hit = total = 0
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True):
            md = pq.read_metadata(f)
            idx = {md.schema.column(i).name: i
                   for i in range(md.schema.names.__len__())}
            xmin = min(md.row_group(g).column(idx["x_i"]).statistics.min
                       for g in range(md.num_row_groups))
            xmax = max(md.row_group(g).column(idx["x_i"]).statistics.max
                       for g in range(md.num_row_groups))
            ymin = min(md.row_group(g).column(idx["y_i"]).statistics.min
                       for g in range(md.num_row_groups))
            ymax = max(md.row_group(g).column(idx["y_i"]).statistics.max
                       for g in range(md.num_row_groups))
            total += 1
            if not (xmax < bbox[0] or xmin > bbox[1]
                    or ymax < bbox[2] or ymin > bbox[3]):
                hit += 1
        return hit, total

    bh, bt = files_hit(bands_path)
    zh, zt = files_hit(z_path)
    assert bt == zt  # same file budget
    assert zh < bh   # Morton clustering prunes more files

    # correctness unaffected: key is a pure bijection of (x, y) order
    from pyspark.sql import functions as F
    back = spark.read.parquet(z_path)
    assert back.count() == grid.size
    k = cube.select(z_order_key(F.col("x_i"), F.col("y_i")).alias("z"))
    assert k.distinct().count() == grid.size


def test_driver_side_writers_refuse_big_cubes(spark, tmp_path):
    """write_geotiff / write_netcdf_cube are fixture-scale writers: a
    cube above the cell cap raises with a pointer to the distributed
    zarr/parquet path BEFORE collecting anything."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.sources.geotiff import write_geotiff
    from xcube_spark.sources.netcdf3 import write_netcdf_cube

    empty = spark.createDataFrame(
        [], "t_i int, y_i int, x_i int, A double")
    with pytest.raises(ValueError, match="write_zarr_cube"):
        write_geotiff(empty, str(tmp_path / "x.tif"), ["A"],
                      width=100_000, height=100_000)
    big = CubeGrid(width=100_000, height=100_000, time_periods=10)
    with pytest.raises(ValueError, match="write_zarr_cube"):
        write_netcdf_cube(empty, str(tmp_path / "x.nc"), big)


# ---- cloud store params (round-4: reference fs-store surface) ----------


def test_store_params_schema_and_option_validation(spark):
    from xcube_spark.sources.store import (
        get_data_store_params_schema, validate_storage_options)

    s3 = get_data_store_params_schema("s3")
    props = s3["properties"]["storage_options"]["properties"]
    assert "anon" in props and "key" in props and "secret" in props
    assert "endpoint_url" in props["client_kwargs"]["properties"]
    assert get_data_store_params_schema("file")["required"] == ["root"]

    validate_storage_options({"anon": True, "extra_ok": 1}, "s3")
    with pytest.raises(TypeError, match="anon must be boolean"):
        validate_storage_options({"anon": "yes"}, "s3")
    with pytest.raises(TypeError, match="client_kwargs.endpoint_url"):
        validate_storage_options(
            {"client_kwargs": {"endpoint_url": 7}}, "s3")


def test_s3_store_options_reach_hadoop_conf(spark):
    """The param plumbing: every documented s3 option lands on its
    BUCKET-scoped fs.s3a.bucket.<name>.* Hadoop key, so two stores
    with different credentials/endpoints never clobber each other in
    the session-global configuration."""
    from xcube_spark.sources.store import new_data_store

    store = new_data_store(
        "s3", spark, root="my-bucket/prefix",
        storage_options={
            "anon": False, "key": "AKIATEST", "secret": "s3cr3t",
            "use_ssl": True, "requester_pays": False,
            "client_kwargs": {"endpoint_url": "http://localhost:9000",
                              "region_name": "eu-central-1"},
        })
    assert store.root == "s3a://my-bucket/prefix"
    conf = spark._jsc.hadoopConfiguration()
    pre = "fs.s3a.bucket.my-bucket"
    assert conf.get(f"{pre}.access.key") == "AKIATEST"
    assert conf.get(f"{pre}.secret.key") == "s3cr3t"
    assert conf.get(f"{pre}.endpoint") == "http://localhost:9000"
    assert conf.get(f"{pre}.endpoint.region") == "eu-central-1"
    assert conf.get(f"{pre}.connection.ssl.enabled") == "true"
    assert conf.get(f"{pre}.requester.pays.enabled") == "false"
    # a second store on another bucket leaves this one untouched
    new_data_store(
        "s3", spark, root="other-bucket",
        storage_options={"anon": True, "client_kwargs": {
            "endpoint_url": "http://minio:9000"}})
    assert conf.get(f"{pre}.endpoint") == "http://localhost:9000"
    assert conf.get("fs.s3a.bucket.other-bucket.endpoint") \
        == "http://minio:9000"
    assert conf.get(
        "fs.s3a.bucket.other-bucket.aws.credentials.provider"
    ).endswith("AnonymousAWSCredentialsProvider")


def test_fs_store_file_uri_twin_hadoop_path(spark, cube, tmp_path):
    """A file:// root drives the SAME Hadoop FileSystem code path a
    cloud bucket uses: list/has/open/delete all through the JVM FS."""
    from xcube_spark.sources.store import new_data_store

    store = new_data_store("file", spark,
                           root=f"file://{tmp_path}/cloudtwin")
    assert store._use_hadoop
    assert list(store.get_data_ids()) == []
    store.write_data(cube, "c.parquet")
    assert store.has_data("c.parquet")
    assert list(store.get_data_ids()) == ["c.parquet"]
    assert store.open_data("c.parquet").count() == cube.count()
    store.delete_data("c.parquet")
    assert not store.has_data("c.parquet")
    with pytest.raises(FileNotFoundError):
        store.delete_data("c.parquet")


def test_fs_store_read_only_and_include_exclude(spark, cube, tmp_path):
    from xcube_spark.sources.store import new_data_store

    rw = new_data_store("file", spark, root=str(tmp_path / "s"))
    rw.write_data(cube, "a.parquet")
    rw.write_data(cube, "b.csv")

    ro = new_data_store("file", spark, root=str(tmp_path / "s"),
                        read_only=True)
    assert sorted(ro.get_data_ids()) == ["a.parquet", "b.csv"]
    with pytest.raises(PermissionError, match="read-only"):
        ro.write_data(cube, "x.parquet")
    with pytest.raises(PermissionError, match="read-only"):
        ro.delete_data("a.parquet")

    filt = new_data_store("file", spark, root=str(tmp_path / "s"),
                          includes="*.parquet")
    assert list(filt.get_data_ids()) == ["a.parquet"]
    assert not filt.has_data("b.csv")
    excl = new_data_store("file", spark, root=str(tmp_path / "s"),
                          excludes=["*.csv"])
    assert list(excl.get_data_ids()) == ["a.parquet"]


# ---- Sentinel-3 product directories (sources/sentinel3.py) -------------


def _fake_s3_product(tmp_path):
    """A Sentinel-3-shaped product: geo_coordinates.nc with scaled
    int32 2-D lon/lat (the real products' encoding) + two band files."""
    import numpy as np

    from xcube_spark.sources.hdf5 import write_hdf5

    prod = tmp_path / "S3A_OL_1_EFR____fake.SEN3"
    prod.mkdir()
    h, w = 12, 16
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    lon = 5.0 + xx * 0.1 + yy * 0.01
    lat = 45.0 - yy * 0.1 + xx * 0.01
    write_hdf5(str(prod / "geo_coordinates.nc"), {
        "longitude": {"data": np.round(lon / 1e-6).astype("<i4"),
                      "attrs": {"scale_factor": 1e-6},
                      "chunks": (6, 8)},
        "latitude": {"data": np.round(lat / 1e-6).astype("<i4"),
                     "attrs": {"scale_factor": 1e-6},
                     "chunks": (6, 8)},
    })
    rad = (yy * 100 + xx).astype("<f8")
    write_hdf5(str(prod / "Oa01_radiance.nc"), {
        "Oa01_radiance": {"data": rad, "attrs": {"_FillValue": -1.0},
                          "chunks": (6, 8)},
    })
    mask = ((xx + yy) % 2).astype("<i1")
    write_hdf5(str(prod / "quality_flags.nc"), {
        "quality_flags": {"data": mask},  # contiguous: mixed layout
        "scalar_junk": {"data": np.arange(3, dtype="<f8")},  # ignored
    })
    return prod, lon, lat, rad, mask


def test_sentinel3_product_open(spark, tmp_path):
    import numpy as np

    from xcube_spark.sources.sentinel3 import (is_sentinel3_product,
                                               open_sentinel3_product)

    prod, lon, lat, rad, mask = _fake_s3_product(tmp_path)
    assert is_sentinel3_product(str(prod))
    assert not is_sentinel3_product(str(tmp_path))
    sw = open_sentinel3_product(spark, str(prod))
    assert sw.columns == ["y_i", "x_i", "lon", "lat", "Oa01_radiance",
                          "quality_flags"]
    got = {(r["y_i"], r["x_i"]): r for r in sw.collect()}
    assert len(got) == 12 * 16
    for (yi, xi) in [(0, 0), (5, 7), (11, 15), (6, 3)]:
        r = got[(yi, xi)]
        assert abs(r["lon"] - lon[yi, xi]) < 1e-5
        assert abs(r["lat"] - lat[yi, xi]) < 1e-5
        assert r["Oa01_radiance"] == rad[yi, xi]
        assert r["quality_flags"] == mask[yi, xi]


def test_sentinel3_rectify_pipeline(spark, tmp_path):
    """The registered sentinel3 processor feeds the swath through
    gen1 rectification onto a regular grid (reference gen.py flow)."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.pipeline.iproc import (Sentinel3InputProcessor,
                                            find_input_processor,
                                            gen1_process_inputs)

    from pyspark.sql import functions as F

    prod, lon, lat, rad, _ = _fake_s3_product(tmp_path)
    sw = Sentinel3InputProcessor.open(spark, str(prod),
                                      var_names=["Oa01_radiance"]) \
        .withColumn("t_i", F.lit(0))  # single-time granule slice
    proc = find_input_processor("sentinel3")
    assert proc.get_reprojection_info(sw).per_pixel
    grid = CubeGrid(width=8, height=6, time_periods=1, x_start=5.0,
                    y_start=43.7, x_res=0.2, y_res=0.2)
    cube = gen1_process_inputs([(sw, grid)], grid,
                               processor="sentinel3",
                               var_names=["Oa01_radiance"])
    rows = cube.where(cube.Oa01_radiance.isNotNull()).count()
    assert rows > 10  # swath covers part of the target grid


def test_data_store_pool(spark, cube, tmp_path):
    from xcube_spark.sources.store import (DataStoreConfig, DataStorePool,
                                           MemoryDataStore)

    pool = DataStorePool(spark, {
        "mem": {"store_id": "memory", "title": "In-session"},
        "disk": DataStoreConfig("file", {"root": str(tmp_path)}),
    })
    assert pool.store_instance_ids == ["disk", "mem"]
    assert pool.has_store_instance("mem")
    assert not pool.is_empty

    mem = pool.get_store("mem")
    assert isinstance(mem, MemoryDataStore)
    assert pool.get_store("mem") is mem  # cached instance

    # config round-trip + dedup lookup
    d = pool.to_dict()
    pool2 = DataStorePool.from_dict(spark, d)
    assert pool2.store_instance_ids == ["disk", "mem"]
    assert pool.get_store_instance_id(
        DataStoreConfig("file", {"root": str(tmp_path)})) == "disk"
    assert pool.get_store_instance_id(
        DataStoreConfig("file", {"root": "/elsewhere"})) is None

    # a pool-resolved store is a fully working store
    disk = pool.get_store("disk")
    disk.write_data(cube, "pooled.parquet")
    assert disk.has_data("pooled.parquet")
    assert pool.get_store("disk").open_data(
        "pooled.parquet").count() == cube.count()

    pool.remove_store_config("mem")
    assert not pool.has_store_instance("mem")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown store instance"):
        pool.get_store("mem")


def test_preload_data_persists_and_closes(spark, cube, tmp_path):
    from xcube_spark.sources.store import (FsDataStore, NullPreloadHandle,
                                           PreloadStatus)

    store = FsDataStore(spark, root=str(tmp_path))
    store.write_data(cube, "warm.parquet")
    store.write_data(cube, "cold.parquet")

    with store.preload_data("warm.parquet") as handle:
        st = handle.get_state("warm.parquet")
        assert st.status is PreloadStatus.stopped
        assert st.progress == 1.0 and st.message == "persisted"
        df = store.open_data("warm.parquet")
        assert df.storageLevel.useMemory  # the persisted frame
        assert df.count() == cube.count()
        # untouched ids still open fresh
        assert not store.open_data(
            "cold.parquet").storageLevel.useMemory
    # closed -> unpersisted and evicted from the preload cache
    assert not store.open_data("warm.parquet").storageLevel.useMemory

    # failure is recorded per-dataset, not raised
    h = store.preload_data("missing.parquet")
    st = h.get_state("missing.parquet")
    assert st.status is PreloadStatus.failed
    assert isinstance(st.exception, FileNotFoundError)
    h.close()

    # base stores need no preload
    from xcube_spark.sources.store import MemoryDataStore

    assert isinstance(MemoryDataStore(spark).preload_data("x"),
                      NullPreloadHandle)


def test_reference_data_store(spark, cube, tmp_path):
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.store import new_data_store
    from xcube_spark.sources.zarrio import write_kerchunk_refs, write_zarr_cube

    g = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0, y_res=45.0,
                 chunks=(1, 2, 4))
    zpath = str(tmp_path / "a.zarr")
    write_zarr_cube(new_cube(spark, g, {"v": 7.0}), zpath, g)
    write_kerchunk_refs(zpath, str(tmp_path / "a.json"))

    store = new_data_store("reference", spark, refs=str(tmp_path))
    assert list(store.get_data_ids()) == ["a"]
    assert store.has_data("a") and not store.has_data("b")
    df = store.open_data("a")
    assert df.count() == g.size
    assert df.agg({"v": "max"}).collect()[0][0] == 7.0
    import pytest as _p

    with _p.raises(FileNotFoundError):
        store.open_data("nope")
    # explicit list form
    from xcube_spark.sources.store import ReferenceDataStore

    store2 = ReferenceDataStore(spark, [str(tmp_path / "a.json")])
    assert list(store2.get_data_ids()) == ["a"]


# ---- zarr v3 sharding (sources/zarrio.py sharding_indexed) --------------


def test_zarr_sharded_roundtrip_and_layout(spark, tmp_path):
    """sharding_indexed write -> read: values bit-equal to the
    unsharded v3 write; object count drops to the shard grid; the
    codec metadata is the spec shape; all-fill shards are absent."""
    import json
    import os

    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = _small_grid()  # chunks (1, 4, 5) over (2, 6, 12)
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i",
                                  "B": ("uniform", 3, 0.3)})
    path = str(tmp_path / "sh.zarr")
    write_zarr_cube(cube, path, grid, zarr_format=3,
                    shards=(2, 8, 10))
    meta = json.load(open(os.path.join(path, "A", "zarr.json")))
    c0 = meta["codecs"][0]
    assert c0["name"] == "sharding_indexed"
    assert c0["configuration"]["chunk_shape"] == [1, 4, 5]
    assert c0["configuration"]["index_location"] == "end"
    assert [c["name"] for c in c0["configuration"]["index_codecs"]] \
        == ["bytes", "crc32c"]
    # shard grid over (2,6,12)/(2,8,10) = 1 x 1 x 2 objects max
    a_objs = [f for _, _, fs in os.walk(os.path.join(path, "A"))
              for f in fs if f != "zarr.json"]
    assert len(a_objs) <= 2
    back = open_zarr_cube(spark, path)
    assert back.count() == grid.size
    assert cube.exceptAll(back.select(*cube.columns)).count() == 0
    assert (back.where(F.col("B").isNull()).count()
            == cube.where(F.col("B").isNull()).count())


def test_zarr_shard_crc_and_index_location(tmp_path):
    """_decode_shard: crc32c corruption raises; index_location=start
    round-trips; missing inner chunks decode as fill."""
    import numpy as np
    import pytest

    from xcube_spark.sources.zarrio import (ZarrArray, _decode_shard,
                                            _encode_shard, decode_chunk)

    def meta(loc="end", crc=True):
        return ZarrArray(
            name="A", shape=(4, 4), chunks=(4, 4), dtype="<f8",
            compressor={"id": "gzip", "level": 1}, fill_value="NaN",
            zarr_format=3,
            sharding={"inner_chunks": (2, 2), "index_location": loc,
                      "crc32c": crc})

    arr = np.arange(16, dtype="f8").reshape(4, 4)
    arr[0:2, 0:2] = np.nan  # one all-fill inner chunk -> omitted
    for loc in ("end", "start"):
        m = meta(loc)
        raw = _encode_shard(arr, m)
        out = _decode_shard(raw, m)
        assert np.isnan(out[0:2, 0:2]).all()
        assert (out[2:, :] == arr[2:, :]).all()
    m = meta()
    raw = bytearray(_encode_shard(arr, m))
    raw[-1] ^= 0xFF  # flip a crc byte
    with pytest.raises(ValueError, match="checksum"):
        _decode_shard(bytes(raw), m)
    # truncated shard
    with pytest.raises(ValueError, match="shorter"):
        _decode_shard(b"xx", m)
    # missing shard object -> all fill via the ordinary chunk path
    out = decode_chunk(None, m)
    assert np.isnan(out).all()
    # all-fill shard encodes to no object at all
    assert _encode_shard(np.full((4, 4), np.nan), m) is None


def test_zarr_shard_validation(spark, tmp_path):
    import pytest

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import write_zarr_cube

    grid = _small_grid()
    cube = new_cube(spark, grid, {"A": "1.0"})
    with pytest.raises(ValueError, match="zarr_format=3"):
        write_zarr_cube(cube, str(tmp_path / "a.zarr"), grid,
                        shards=(2, 8, 10))
    with pytest.raises(ValueError, match="multiple"):
        write_zarr_cube(cube, str(tmp_path / "b.zarr"), grid,
                        zarr_format=3, shards=(2, 7, 10))


def test_virtualize_sharded_store_refs(spark, tmp_path):
    """virtualize_sharded_store: inner chunks become byte-range refs
    into shard objects (built from the indexes alone); the kerchunk
    open is value-identical to the direct open; missing inner chunks
    get no ref and decode as fill."""
    import json
    import os

    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import (open_kerchunk_cube,
                                            open_zarr_cube,
                                            virtualize_sharded_store,
                                            write_zarr_cube)

    grid = _small_grid()  # chunks (1, 4, 5) over (2, 6, 12)
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i",
                                  "B": ("uniform", 3, 0.3)})
    path = str(tmp_path / "sv.zarr")
    write_zarr_cube(cube, path, grid, zarr_format=3, shards=(2, 8, 10))
    refs_path = str(tmp_path / "sv.refs.json")
    virtualize_sharded_store(path, refs_path)
    refs = json.load(open(refs_path))["refs"]
    a_chunks = [k for k in refs if k.startswith("A/")
                and not k.split("/", 1)[1].startswith(".")]
    # refs address the INNER chunk grid (2 x 2 x 3), not the shards
    assert len(a_chunks) == 2 * 2 * 3
    ranged = [refs[k] for k in a_chunks if refs[k][1] > 0]
    assert ranged, "no ref carries a real byte offset into a shard"
    # every ref URL points at a shard object (c/i/j/k keys)
    assert all("/c/" in refs[k][0] for k in a_chunks)
    back = open_kerchunk_cube(spark, refs_path)
    assert cube.exceptAll(back.select(*cube.columns)).count() == 0
    assert (back.where(F.col("B").isNull()).count()
            == cube.where(F.col("B").isNull()).count())


def test_sharded_open_uses_inner_chunk_granularity(spark, tmp_path):
    """open_zarr_cube over a sharded store: cell_bounds subset reads
    decode only intersecting INNER chunks (values identical to the
    full open's subset), and a shard missing entirely decodes as
    fill."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = _small_grid()  # chunks (1, 4, 5) over (2, 6, 12)
    cube = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE) + 0.25 * x_i"})
    path = str(tmp_path / "sub.zarr")
    write_zarr_cube(cube, path, grid, zarr_format=3, shards=(2, 8, 10))
    sub = open_zarr_cube(spark, path,
                         cell_bounds={"x_i": (2, 6), "y_i": (1, 3)})
    want = cube.where("x_i BETWEEN 2 AND 6 AND y_i BETWEEN 1 AND 3")
    assert sub.count() == want.count()
    assert want.select("t_i", "y_i", "x_i", "A").exceptAll(
        sub.select("t_i", "y_i", "x_i", "A")).count() == 0


def test_zarr_overwrite_replaces_store(spark, tmp_path):
    """Overwriting with a SPARSER cube over the same chunk grid must
    not resurrect the previous write's chunk files as data."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    grid = CubeGrid(width=6, height=4, time_periods=3, x_res=1.0,
                    y_res=1.0, x_start=0.0, y_start=0.0)
    path = str(tmp_path / "ow.zarr")
    full = new_cube(spark, grid, {"A": "CAST(t_i AS DOUBLE)"})
    write_zarr_cube(full, path, grid)
    sparse = full.where(F.col("t_i") == 0)
    write_zarr_cube(sparse, path, grid, mode="overwrite")

    back = open_zarr_cube(spark, path)
    stale = back.where((F.col("t_i") > 0) & F.col("A").isNotNull())
    assert stale.count() == 0
    assert back.where(F.col("A").isNotNull()).count() == grid.width * grid.height


def test_geojson_feature_collection_any_member_order(spark, tmp_path):
    """'features' before 'type' is valid GeoJSON and must parse via the
    FeatureCollection path (not crash in the NDJSON fallback)."""
    from xcube_spark.sources.features import open_geojson_features

    doc = {"features": [
        {"type": "Feature", "id": "a",
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
         "properties": {"name": "alpha"}},
        {"type": "Feature", "id": "b",
         "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
         "properties": {"name": "beta"}},
    ], "type": "FeatureCollection"}
    path = str(tmp_path / "reversed.geojson")
    with open(path, "w") as f:
        json.dump(doc, f)  # python dicts preserve insertion order

    feats = open_geojson_features(spark, path)
    rows = {r["feature_id"]: r["geometry"] for r in feats.collect()}
    assert rows == {"a": "POINT(1.0 2.0)", "b": "POINT(3.0 4.0)"}


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def test_netcdf3_single_record_var_unpadded(spark, tmp_path):
    """Spec special rule: with exactly one record variable the record
    slots are NOT padded to 4 bytes.  An external CDF-1 file with one
    i2 (time, lat=1, lon=3) variable strides 6 bytes/record, not the
    padded vsize of 8."""
    from xcube_spark.sources.netcdf3 import (open_netcdf_cube,
                                             read_netcdf_header)

    def name(s: str) -> bytes:
        return struct.pack(">i", len(s)) + _pad4(s.encode())

    header = b"CDF\x01"
    header += struct.pack(">i", 2)  # numrecs
    header += struct.pack(">2i", 0x0A, 3)  # NC_DIMENSION, 3 dims
    header += name("time") + struct.pack(">i", 0)
    header += name("lat") + struct.pack(">i", 1)
    header += name("lon") + struct.pack(">i", 3)
    header += struct.pack(">2i", 0, 0)  # no global attrs
    header += struct.pack(">2i", 0x0B, 1)  # NC_VARIABLE, 1 var
    var = name("v")
    var += struct.pack(">i", 3) + struct.pack(">3i", 0, 1, 2)  # dims
    var += struct.pack(">2i", 0, 0)  # no var attrs
    var += struct.pack(">i", 3)  # NC_SHORT
    var += struct.pack(">i", 8)  # vsize: PADDED per spec
    begin = len(header) + len(var) + 4
    var += struct.pack(">i", begin)
    data = struct.pack(">6h", 1, 2, 3, 4, 5, 6)  # 2 records, unpadded

    path = str(tmp_path / "single_rec.nc")
    with open(path, "wb") as f:
        f.write(header + var + data)

    nc = read_netcdf_header(path)
    assert nc.recsize == 6  # NOT the padded 8
    cube = open_netcdf_cube(spark, path)
    vals = {(r["t_i"], r["x_i"]): r["v"] for r in cube.collect()}
    assert vals == {(0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0,
                    (1, 0): 4.0, (1, 1): 5.0, (1, 2): 6.0}


def test_zarr_v3_prune_sweeps_emptied_parents(tmp_path):
    """os.walk(topdown=False) parents list stale (already-rmdir'd)
    children in dirnames; the prune must still remove them."""
    root = tmp_path / "arr" / "c"
    leaf = root / "0" / "1"
    leaf.mkdir(parents=True)
    keep = root / "2"
    keep.mkdir()
    (keep / "chunk").write_bytes(b"\x00")

    # replicate the prune loop from zarrio._unchunk (kept in sync by
    # this test's sibling assertion on the source text below)
    for dirpath, _d, _f in os.walk(str(root), topdown=False):
        try:
            os.rmdir(dirpath)
        except OSError:
            pass

    assert not (root / "0").exists()          # parent swept too
    assert (keep / "chunk").exists()          # non-empty kept
    assert root.exists()                      # "c" kept (non-empty)

    import inspect

    import xcube_spark.sources.zarrio as zarrio
    src = inspect.getsource(zarrio)
    assert "fails harmlessly (OSError) on non-empty dirs" in src
