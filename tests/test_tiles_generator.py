"""Tiling scheme / compute_tiles / RGBA + gen2 generator pipeline +
genpts tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import gen_points, new_cube
from xcube_spark.operators.tiles import (
    TilingScheme,
    compute_rgba_tile,
    compute_tiles,
    select_tile_level,
)
from xcube_spark.pipeline.generator import CubeGeneratorRequest, generate_cube

GRID = CubeGrid()  # 360x180x5, 1-degree
VARS = {"A": lambda ns: ns["t_i"].cast("double") + 0.1 * ns["y"] + 0.01 * ns["x"]}


@pytest.fixture(scope="module")
def cube(spark):
    return new_cube(spark, GRID, VARS).cache()


def test_tiling_scheme_math():
    ts = TilingScheme.geographic()
    assert ts.num_tiles(0) == (2, 1)
    assert ts.num_tiles(2) == (8, 4)
    assert ts.resolution(0) == pytest.approx(180.0 / 256)
    # 1-degree data is adequately served at the level where res <= 1 deg
    assert ts.level_for_resolution(1.0) == 0
    assert ts.level_for_resolution(180.0 / 256 / 4) == 2
    assert ts.tile_bbox(1, 0, 0) == (-180.0, 0.0, -90.0, 90.0)
    assert ts.tile_bbox(1, 3, 1) == (90.0, -90.0, 180.0, 0.0)


def test_select_tile_level(spark, cube):
    levels = [(GRID, cube), (GRID.level(1), cube), (GRID.level(2), cube)]
    ts = TilingScheme.geographic()
    # zoom 0: res 0.703 deg/px -> coarsest adequate level is L... x_res
    # candidates are 1, 2, 4 deg; only 1-deg (L0) is <= 0.703? no ->
    # fallback stays finest
    g, _ = select_tile_level(levels, ts, zoom=3)
    assert g.x_res == 1.0  # zoom 3 res ~0.088 deg -> full resolution


def test_compute_tiles(spark, cube):
    ts = TilingScheme.geographic()
    # level 1 tile (0, 0) = lon [-180, -90), lat [0, 90)
    tile = compute_tiles(cube, GRID, ts, level=1, tx=0, ty=0, t_i=0)
    rows = tile.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("px").alias("px0"), F.max("px").alias("px1"),
        F.min("py").alias("py0"), F.max("py").alias("py1"),
    ).collect()[0]
    assert rows["n"] == 90 * 90  # 90x90 one-degree cells
    assert rows["px0"] >= 0 and rows["px1"] < 256
    assert rows["py0"] >= 0 and rows["py1"] < 256


def test_rgba_tile(spark, cube):
    ts = TilingScheme.geographic()
    tile = compute_tiles(cube, GRID, ts, level=1, tx=0, ty=0, t_i=0)
    rgba = compute_rgba_tile(tile, "A", vmin=-10.0, vmax=10.0)
    row = rgba.agg(
        F.min("r"), F.max("r"), F.min("a"), F.max("g"), F.max("b")
    ).collect()[0]
    assert 0 <= row[0] <= row[1] <= 255
    assert row[2] == 255  # no NULLs -> fully opaque


def test_generator_pipeline(spark, cube):
    req = CubeGeneratorRequest(
        variable_names=["A"],
        bbox=[0.0, 0.0, 40.0, 40.0],
        time_range=("2010-01-02T00:00:00", None),
        spatial_factor=2,
    )
    out, out_grid = generate_cube(spark, cube, GRID, req)
    assert out_grid.x_res == 2.0
    # 40x40 deg -> 20x20 blocks, 4 remaining time steps
    assert out.count() == 20 * 20 * 4
    assert "A" in out.columns


def test_generator_with_time_and_code(spark, cube):
    req = CubeGeneratorRequest(
        variable_names=["A"],
        time_period="1W",
        user_code=lambda df: df.withColumn("A2", F.col("A") * 2),
    )
    out, _ = generate_cube(spark, cube, GRID, req)
    assert "A2" in out.columns
    assert out.where(F.col("A2") != 2 * F.col("A")).count() == 0


def test_generator_from_dict_and_write(spark, cube, tmp_path):
    req = CubeGeneratorRequest.from_dict({
        "cube_config": {
            "variable_names": ["A"],
            "bbox": [0.0, 0.0, 10.0, 10.0],
            "output_path": str(tmp_path / "gen.parquet"),
        }
    })
    out, _ = generate_cube(spark, cube, GRID, req)
    back = spark.read.parquet(str(tmp_path / "gen.parquet"))
    assert back.count() == out.count() == 10 * 10 * 5


def test_gen_points(spark):
    pts = gen_points(spark, GRID, 1000, seed=7)
    assert pts.count() == 1000
    r = pts.agg(F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")).collect()[0]
    assert r[0] >= -180 and r[1] < 180 and r[2] >= -90 and r[3] < 90
    # deterministic per seed
    a = pts.agg(F.sum("lon")).collect()[0][0]
    b = gen_points(spark, GRID, 1000, seed=7).agg(F.sum("lon")).collect()[0][0]
    assert a == b


def test_coverage_param_parsing():
    from xcube_spark.operators.coverages import parse_coverage_params

    req = parse_coverage_params({
        "subset": 'lat(10:20),lon(-5:5),time("2010-01-02":"2010-01-04")',
        "scale-factor": "2",
        "properties": "A,C",
    })
    assert req.bbox == [-5.0, 10.0, 5.0, 20.0]
    assert req.time_range == ("2010-01-02", "2010-01-04")
    assert req.scale_factor == 2 and req.properties == ["A", "C"]

    open_ended = parse_coverage_params({"subset": 'time("2010-01-03":*)'})
    assert open_ended.time_range == ("2010-01-03", None)

    override = parse_coverage_params({
        "subset": "lat(0:1),lon(0:1)", "bbox": "1,2,3,4"})
    assert override.bbox == [1.0, 2.0, 3.0, 4.0]


def test_execute_coverage_request(spark, cube):
    from xcube_spark.operators.coverages import execute_coverage_request

    out, g = execute_coverage_request(cube, GRID, {
        "subset": "lat(0:40),lon(0:40)",
        "scale-factor": "2",
        "properties": "A",
    })
    assert g.x_res == 2.0
    assert out.count() == 20 * 20 * GRID.time_periods
    assert "A" in out.columns


def test_coverage_single_axis_subset():
    """A subset naming only one spatial axis still constrains that axis
    (the missing axis gets the full numeric extent, not a dropped bbox)."""
    from xcube_spark.operators.coverages import parse_coverage_params

    req = parse_coverage_params({"subset": "lat(10:20)"})
    assert req.bbox is not None
    assert req.bbox[1] == 10.0 and req.bbox[3] == 20.0
    assert req.bbox[0] == float("-inf") and req.bbox[2] == float("inf")

    req2 = parse_coverage_params({"subset": "lon(-5:5)"})
    assert req2.bbox[0] == -5.0 and req2.bbox[2] == 5.0


# ---- multi-level datasets (operators/mldataset.py) ---------------------


def test_base_mldataset_lazy_levels(spark):
    """Levels build on first access only; grids follow the halving rule."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.mldataset import BaseMultiLevelDataset

    grid = CubeGrid(width=20, height=10, time_periods=2, x_res=18.0,
                    y_res=18.0)
    mlds = BaseMultiLevelDataset(new_cube(spark, grid, {"v": 1.0}), grid,
                                 num_levels=3)
    assert mlds.num_levels == 3
    assert [g.width for g in mlds.grids] == [20, 10, 5]
    assert mlds._cache == {}          # nothing built yet
    l2 = mlds.get_dataset(2)
    assert l2.count() == 5 * 3 * 2    # ceil(10/4)=3 rows
    assert set(mlds._cache) == {0, 1, 2}  # built through the chain
    import pytest as _pytest
    with _pytest.raises(IndexError):
        mlds.get_dataset(3)


def test_combined_and_computed_mldataset(spark):
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.mldataset import (BaseMultiLevelDataset,
                                                 CombinedMultiLevelDataset,
                                                 ComputedMultiLevelDataset)

    grid = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                    y_res=45.0)
    a = BaseMultiLevelDataset(new_cube(spark, grid, {"a": 1.0}), grid, 2)
    b = BaseMultiLevelDataset(new_cube(spark, grid, {"b": 2.0}), grid, 2)
    comb = CombinedMultiLevelDataset([a, b])
    l0 = comb.get_dataset(0)
    assert {"a", "b"} <= set(l0.columns)
    assert l0.count() == grid.size

    def doubled(inputs, index):
        return inputs[0].get_dataset(index).withColumn(
            "a2", F.col("a") * 2)

    comp = ComputedMultiLevelDataset(doubled, [a], 2, grid)
    assert comp.get_dataset(1).where(F.col("a2") == 2.0).count() > 0


def test_fs_mldataset_roundtrip(spark, tmp_path):
    """write_mldataset -> .levels dir (+ .zlevels spec) -> lazy reopen."""
    import os

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.mldataset import (BaseMultiLevelDataset,
                                                 FsMultiLevelDataset,
                                                 write_mldataset)

    grid = CubeGrid(width=16, height=8, time_periods=2, x_res=22.5,
                    y_res=22.5)
    src = BaseMultiLevelDataset(new_cube(spark, grid, {"v": 3.0}), grid, 3)
    path = str(tmp_path / "pyramid.levels")
    write_mldataset(src, path)
    assert os.path.exists(os.path.join(path, ".zlevels"))
    back = FsMultiLevelDataset(spark, path)
    assert back.num_levels == 3
    assert back.grid(1).width == 8 and back.grid(1).x_res == 45.0
    assert back.get_dataset(2).count() == src.get_dataset(2).count()


# ---- volumes endpoint twin --------------------------------------------


def test_extract_volume_brick_and_nrrd_roundtrip(spark):
    """extract_volume + volume_nrrd_bytes reproduce the reference
    endpoint's payload: C-order float32 values with the y axis flipped
    (top row first), NaN -> 0, and the exact NRRD header."""
    import gzip
    import struct

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.volumes import (
        extract_volume, nrrd_header, volume_nrrd_bytes, volume_shape)

    grid = CubeGrid(width=6, height=4, time_periods=2)
    var = {"V": "CASE WHEN x_i = 0 AND y_i = 0 THEN NULL "
                "ELSE CAST(t_i * 100 + y_i * 10 + x_i AS DOUBLE) END"}
    cube = new_cube(spark, grid, variables=var)
    shape = volume_shape(grid)
    assert shape == (2, 4, 6)
    vox = extract_volume(cube, grid, "V")
    blob = volume_nrrd_bytes(vox, shape, encoding="raw")
    header = nrrd_header(shape, "raw").encode()
    assert blob.startswith(header)
    vals = struct.unpack("<48f", blob[len(header):])
    # C-order (t, j, x); j=0 is the TOP row = y_i 3; NaN cell (t,y,x)=
    # (*,0,0) sits at j=3, x=0 and reads 0.0
    assert vals[0] == 30.0             # t=0, y_i=3, x_i=0
    assert vals[3 * 6 + 0] == 0.0      # t=0, y_i=0, x_i=0 (NULL -> 0)
    assert vals[3 * 6 + 1] == 1.0      # t=0, y_i=0, x_i=1
    assert vals[24 + 0] == 130.0       # t=1, y_i=3, x_i=0
    # gz encoding wraps the same bytes
    gz = volume_nrrd_bytes(vox, shape, encoding="gz")
    gz_header = nrrd_header(shape, "gz").encode()
    assert gzip.decompress(gz[len(gz_header):]) == blob[len(header):]


def test_extract_volume_voxel_cap_raises_before_reading(spark):
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.volumes import extract_volume

    grid = CubeGrid(width=6, height=4, time_periods=2)
    cube = new_cube(spark, grid, variables={"V": "CAST(1 AS DOUBLE)"})
    with pytest.raises(ValueError, match="Volume too large"):
        extract_volume(cube, grid, "V", max_voxel_count=10)


def test_extract_volume_bbox_time_subset_indices(spark):
    """Subset-relative indices: bbox/time trims re-base t_i/x_i to 0 and
    j counts down from the top of the SUBSET."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.volumes import extract_volume, volume_shape

    grid = CubeGrid(width=10, height=8, time_periods=3,
                    x_start=0.0, y_start=0.0)
    cube = new_cube(spark, grid, variables={
        "V": "CAST(t_i * 1000 + y_i * 10 + x_i AS DOUBLE)"})
    bbox = (2.0, 1.0, 6.0, 5.0)   # x centers 2.5..5.5, y centers 1.5..4.5
    tr = ("2010-01-02", "2010-01-03")
    assert volume_shape(grid, bbox, tr) == (2, 4, 4)
    rows = {(r.t_i, r.j, r.x_i): r.value
            for r in extract_volume(cube, grid, "V", bbox, tr).collect()}
    assert len(rows) == 2 * 4 * 4
    assert min(k[0] for k in rows) == 0 and max(k[0] for k in rows) == 1
    # top render row (j=0) is the highest selected y index (y_i=4);
    # t_i=0 is source t_i=1 (first center inside the range)
    assert rows[(0, 0, 0)] == 1000 + 4 * 10 + 2
    assert rows[(1, 3, 3)] == 2000 + 1 * 10 + 5


# ---- PNG tile bytes + colormap registry -------------------------------


def test_render_tile_png_roundtrips_channel_values(spark):
    """PNG bytes decode back to exactly the oracle-checked RGBA channel
    values; uncovered pixels stay transparent background."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.tiles import (
        TilingScheme, compute_rgba_tile, compute_tiles, decode_rgba_png,
        render_tile_png)

    grid = CubeGrid()
    cube = new_cube(spark, grid, variables={
        "A": "CAST(t_i AS DOUBLE) + 0.1 * y + 0.01 * x"})
    scheme = TilingScheme.geographic()
    cells = compute_tiles(cube, grid, scheme, level=0, tx=0, ty=0,
                          var_names=["A"], t_i=0)
    rgba = compute_rgba_tile(cells, "A", vmin=-10.0, vmax=10.0)
    png = render_tile_png(rgba, tile_size=256)
    w, h, pix = decode_rgba_png(png)
    assert (w, h) == (256, 256)
    rows = rgba.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        o = 4 * (r.py * 256 + r.px)
        assert tuple(pix[o:o + 4]) == (r.r, r.g, r.b, r.a)
    # level-0 geographic tile 0 maps 1 cube cell per ~1.4 px: covered
    # pixel count equals the distinct (px,py) set; the rest transparent
    covered = {(r.px, r.py) for r in rows}
    n_opaque = sum(1 for i in range(256 * 256) if pix[4 * i + 3] == 255)
    assert n_opaque == len(covered)


def _reference_tile_png(rows, tile_size, background=(0, 0, 0, 0)):
    """The per-row renderer the Arrow path replaced: scatter each
    (px, py, r, g, b, a) row into a bytearray, then frame filter-0
    scanlines as IHDR + IDAT(zlib level 9) + IEND."""
    import struct
    import zlib

    buf = bytearray(background * (tile_size * tile_size))
    for px, py, r, g, b, a in rows:
        if 0 <= px < tile_size and 0 <= py < tile_size:
            o = 4 * (py * tile_size + px)
            buf[o:o + 4] = bytes((r & 255, g & 255, b & 255, a & 255))
    stride = 4 * tile_size
    raw = b"".join(b"\x00" + buf[y * stride:(y + 1) * stride]
                   for y in range(tile_size))

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", tile_size, tile_size,
                                         8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 9)) + chunk(b"IEND", b""))


@pytest.mark.parametrize("case", ["empty", "out_of_range", "partial"])
def test_render_tile_png_matches_per_row_reference(spark, case):
    """render_tile_png (Arrow collect + numpy scatter) is byte-identical
    to the per-row reference on fixed RGBA frames: an empty frame,
    out-of-range pixels (dropped), and a partial tile with a repeated
    pixel (last row wins), channels outside 0..255 (taken mod 256) and
    a non-default background."""
    from xcube_spark.operators.tiles import render_tile_png

    size, background = 8, (0, 0, 0, 0)
    rows = []
    if case == "out_of_range":
        rows = [(-1, 0, 1, 2, 3, 255), (8, 3, 1, 2, 3, 255),
                (2, -5, 9, 9, 9, 255), (4, 8, 7, 7, 7, 255),
                (3, 3, 10, 20, 30, 255)]
    elif case == "partial":
        size, background = 256, (1, 2, 3, 4)
        rows = [(px, py, px % 256, py % 256, (px * py) % 300, 255)
                for py in range(0, 100, 3) for px in range(0, 256, 7)]
        rows += [(5, 5, 256, -1, 300, 0), (0, 0, 1, 1, 1, 1),
                 (0, 0, 2, 2, 2, 2)]
    schema = "px int, py int, r int, g int, b int, a int"
    df = spark.createDataFrame(rows, schema).coalesce(1)
    got = render_tile_png(df, tile_size=size, background=background)
    assert got == _reference_tile_png(rows, size, background)


def test_colormap_registry_lookup_reverse_register():
    from xcube_spark.operators.tiles import (
        COLORMAPS, get_colormap, register_colormap)

    vir = get_colormap("viridis")
    assert vir[0][1] == (68, 1, 84) and vir[-1][1] == (253, 231, 37)
    # _r reversal flips both positions and order
    vr = get_colormap("viridis_r")
    assert vr[0] == (0.0, (253, 231, 37)) and vr[-1] == (1.0, (68, 1, 84))
    assert [p for p, _ in vr] == sorted(p for p, _ in vr)
    # unknown name falls back to the default map (reference provider)
    assert get_colormap("no_such_map") == COLORMAPS["default"]
    register_colormap("custom2", [(1.0, (9, 9, 9)), (0.0, (1, 2, 3))])
    assert get_colormap("custom2")[0] == (0.0, (1, 2, 3))


def test_rgba_named_cmap_and_log_norm(spark):
    """gray colormap is an exact ramp (easy closed form), and log norm
    places the geometric midpoint at gray 127/128."""
    from xcube_spark.operators.tiles import compute_rgba_tile

    cells = spark.createDataFrame(
        [(0, 0, 1.0), (1, 0, 10.0), (2, 0, 100.0), (3, 0, None)],
        "px int, py int, A double")
    out = {r.px: r for r in compute_rgba_tile(
        cells, "A", vmin=1.0, vmax=100.0,
        cmap_name="gray", cmap_norm="log").collect()}
    assert (out[0].r, out[0].g, out[0].b, out[0].a) == (0, 0, 0, 255)
    assert (out[2].r, out[2].g, out[2].b, out[2].a) == (255, 255, 255, 255)
    assert out[1].r in (127, 128) and out[1].r == out[1].g == out[1].b
    assert out[3].a == 0


def test_run_cube_generator_end_to_end(spark, tmp_path):
    """Service-level gen2: pool-resolved inputs, variable-wise combine,
    stage pipeline, store write (core/gen2/request.py shape)."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.pipeline.generator import run_cube_generator
    from xcube_spark.sources.store import DataStorePool

    g = CubeGrid(width=8, height=4, time_periods=2, x_res=45.0, y_res=45.0)
    pool = DataStorePool(spark, {
        "src": {"store_id": "file", "store_params": {"root": str(tmp_path)}},
    })
    store = pool.get_store("src")
    store.write_data(new_cube(spark, g, {"sst": 10.0}), "a.parquet")
    store.write_data(new_cube(spark, g, {"chl": 2.0}), "b.parquet")

    out, out_grid = run_cube_generator(spark, {
        "input_configs": [
            {"store_instance_id": "src", "data_id": "a.parquet"},
            {"store_instance_id": "src", "data_id": "b.parquet"},
        ],
        "cube_config": {"variable_names": ["sst", "chl"]},
        "code_config": {
            "callable_ref": "gen_e2e_mod:halve",
            "inline_code": (
                "def halve(df):\n"
                "    from pyspark.sql import functions as F\n"
                "    return df.withColumn('sst', F.col('sst') / 2)\n"
            ),
        },
        "output_config": {"store_instance_id": "src",
                          "data_id": "out.parquet",
                          "write_params": {"mode": "overwrite"}},
    }, grid=g, store_pool=pool)

    assert store.has_data("out.parquet")
    got = store.open_data("out.parquet")
    row = got.agg({"sst": "max", "chl": "max"}).collect()[0]
    assert row["max(sst)"] == 5.0 and row["max(chl)"] == 2.0
    assert got.count() == g.size


def test_run_cube_generator_validation(spark):
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.pipeline.generator import run_cube_generator

    g = CubeGrid(width=4, height=2, time_periods=1)
    with pytest.raises(ValueError, match="one of input_config"):
        run_cube_generator(spark, {}, grid=g)
    with pytest.raises(ValueError, match="no store_pool"):
        run_cube_generator(spark, {
            "input_config": {"store_instance_id": "x", "data_id": "d"},
        }, grid=g)


def test_rgba_qualitative_discrete_no_blends(spark):
    """Qualitative maps render as ListedColormaps (advice r9): every
    output pixel is EXACTLY one of the palette entries — mid-interval
    norms must snap to a listed color, never interpolate — and the
    bins follow floor(norm * n) clamped to n-1."""
    from xcube_spark.operators.tiles import COLORMAPS, compute_rgba_tile

    palette = [c for _, c in COLORMAPS["tab20b"]]
    vals = [(i, 0, i / 39.0) for i in range(40)]  # dense norm sweep
    cells = spark.createDataFrame(vals, "px int, py int, A double")
    out = compute_rgba_tile(cells, "A", vmin=0.0, vmax=1.0,
                            cmap_name="tab20b").collect()
    for r in out:
        assert (r.r, r.g, r.b) in palette, (r.px, r.r, r.g, r.b)
        expected = palette[min(int((r.px / 39.0) * 20), 19)]
        assert (r.r, r.g, r.b) == expected, r.px
    # continuous maps still interpolate (blend at the midpoint)
    cont = compute_rgba_tile(
        spark.createDataFrame([(0, 0, 0.5)], "px int, py int, A double"),
        "A", vmin=0.0, vmax=1.0, cmap_name="gray").collect()[0]
    assert cont.r in (127, 128)
