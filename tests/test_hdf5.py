"""netCDF-4 / HDF5 IO (sources/hdf5.py) — reference parity target
Netcdf4DatasetIO (/root/reference/xcube/core/dsio.py:359)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube
from xcube_spark.sources.hdf5 import (H5File, open_netcdf4_cube,
                                      read_h5_array, write_hdf5,
                                      write_netcdf4_cube)


def _fixture_spec(chunked=True):
    rng = np.random.RandomState(7)
    t = np.arange(3, dtype="<f8") * 86400.0
    lat = np.linspace(-80.0, 80.0, 9)
    lon = np.linspace(-170.0, 170.0, 18)
    A = rng.rand(3, 9, 18)
    B = (rng.rand(3, 9, 18) * 100).astype("<i4")
    spec = {
        "time": {"data": t, "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": lat, "dims": ["lat"],
                "attrs": {"units": "degrees_north"}},
        "lon": {"data": lon, "dims": ["lon"],
                "attrs": {"units": "degrees_east"}},
        "A": {"data": A, "dims": ["time", "lat", "lon"],
              "attrs": {"_FillValue": -9.0e33, "long_name": "var A"},
              **({"chunks": (1, 4, 7)} if chunked else {})},
        "B": {"data": B, "dims": ["time", "lat", "lon"],
              "attrs": {"scale_factor": 0.5, "add_offset": 1.0}},
    }
    return spec, A, B


def test_h5_low_level_roundtrip(tmp_path):
    """Writer -> reader: shapes, dtypes, chunk layout, filters,
    attributes (string/scalar/list), dimension-scale wiring through
    the global heap, root attrs, exact values."""
    path = str(tmp_path / "t.nc")
    spec, A, B = _fixture_spec()
    write_hdf5(path, spec, gattrs={"Conventions": "CF-1.8", "title": "x"})

    f = H5File(path)
    assert sorted(f.datasets) == ["A", "B", "lat", "lon", "time"]
    assert f.root_attrs == {"Conventions": "CF-1.8", "title": "x"}

    dsA = f.datasets["A"]
    assert dsA.shape == (3, 9, 18)
    assert dsA.dtype == np.dtype("<f8")
    assert dsA.layout == "chunked"
    assert dsA.chunk_shape == (1, 4, 7)
    # shuffle (elem size) then deflate (level)
    assert [fid for fid, _ in dsA.filters] == [2, 1]
    assert dsA.attrs["long_name"] == "var A"
    # DIMENSION_LIST object references resolved back to dataset names
    assert dsA.attrs["DIMENSION_LIST"] == ["time", "lat", "lon"]
    assert f.datasets["lat"].attrs["CLASS"] == "DIMENSION_SCALE"
    assert f.datasets["lat"].attrs["NAME"] == "lat"
    # 3*3*3 chunk grid (9/4 -> 3, 18/7 -> 3)
    assert len(f.chunks(dsA)) == 3 * 3 * 3

    a2, attrs = read_h5_array(path, "A")
    assert attrs["_FillValue"] == -9.0e33
    assert np.array_equal(A, a2)
    b2, battrs = read_h5_array(path, "B")
    assert battrs["scale_factor"] == 0.5
    assert np.array_equal(B, b2)
    t2, tattrs = read_h5_array(path, "time")
    assert tattrs["units"] == "seconds since 1970-01-01"
    assert np.array_equal(t2, spec["time"]["data"])


def test_h5_contiguous_roundtrip(tmp_path):
    path = str(tmp_path / "c.nc")
    spec, A, _ = _fixture_spec(chunked=False)
    write_hdf5(path, spec)
    assert H5File(path).datasets["A"].layout == "contiguous"
    a2, _ = read_h5_array(path, "A")
    assert np.array_equal(A, a2)


def test_h5_not_hdf5_error(tmp_path):
    p = tmp_path / "x.bin"
    p.write_bytes(b"CDF\x01" + b"\0" * 64)
    with pytest.raises(ValueError, match="not an HDF5 file"):
        H5File(str(p))


GRID = CubeGrid(width=20, height=10, time_periods=3, x_res=18.0,
                y_res=18.0, chunks=(1, 5, 10))


def test_netcdf4_cube_roundtrip(spark):
    """Cube -> netCDF-4 -> cube: values, coords, CF time, NULLs."""
    import tempfile

    cube = new_cube(spark, GRID,
                    {"A": "CAST(t_i * 1000 + y_i * 20 + x_i AS DOUBLE)",
                     "B": ("uniform", 3, 0.25)})
    path = tempfile.mkdtemp(prefix="h5cube_") + "/rt.nc"
    write_netcdf4_cube(cube, path, GRID)
    back = open_netcdf4_cube(spark, path)
    cols = ["t_i", "y_i", "x_i", "time", "y", "x", "A", "B"]
    assert back.columns == cols
    assert cube.select(*cols).exceptAll(back.select(*cols)).count() == 0
    assert (back.where(F.col("B").isNull()).count()
            == cube.where(F.col("B").isNull()).count())


def test_netcdf4_unaligned_chunk_grids(spark, tmp_path):
    """Variables with different chunk grids fall back to the pivot
    path and still round-trip exactly."""
    rng = np.random.RandomState(1)
    t = np.arange(2, dtype="<f8") * 86400.0
    lat = np.linspace(-45.0, 45.0, 6)
    lon = np.linspace(-90.0, 90.0, 8)
    A = rng.rand(2, 6, 8)
    B = rng.rand(2, 6, 8)
    path = str(tmp_path / "mixed.nc")
    write_hdf5(path, {
        "time": {"data": t, "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": lat, "dims": ["lat"]},
        "lon": {"data": lon, "dims": ["lon"]},
        "A": {"data": A, "dims": ["time", "lat", "lon"],
              "chunks": (1, 3, 4)},
        "B": {"data": B, "dims": ["time", "lat", "lon"]},  # contiguous
    })
    back = open_netcdf4_cube(spark, path)
    got = np.full((2, 6, 8), np.nan)
    gob = np.full((2, 6, 8), np.nan)
    for r in back.collect():
        got[r["t_i"], r["y_i"], r["x_i"]] = r["A"]
        gob[r["t_i"], r["y_i"], r["x_i"]] = r["B"]
    assert np.allclose(got, A)
    assert np.allclose(gob, B)


def test_netcdf4_facade_dispatch(spark, tmp_path):
    """dsio facade sniffs the HDF5 magic and the default .nc write
    produces netCDF-4."""
    from xcube_spark.sources.dsio import open_dataset, write_dataset

    path = str(tmp_path / "d.nc")
    write_dataset(new_cube(spark, GRID, {"v": 5.0}), path, grid=GRID)
    with open(path, "rb") as f:
        assert f.read(8) == b"\x89HDF\r\n\x1a\n"
    assert open_dataset(spark, path).count() == GRID.size

    # classic still reachable via format_version=3
    p3 = str(tmp_path / "d3.nc")
    write_dataset(new_cube(spark, GRID, {"v": 5.0}), p3, grid=GRID,
                  format_version=3)
    with open(p3, "rb") as f:
        assert f.read(3) == b"CDF"
    assert open_dataset(spark, p3).count() == GRID.size


def test_h5_cf_scale_offset_decode(spark, tmp_path):
    """scale_factor/add_offset + _FillValue CF decoding on read."""
    raw = np.array([[[0, 1], [2, -128]]], dtype="<i1")
    path = str(tmp_path / "sc.nc")
    write_hdf5(path, {
        "time": {"data": np.array([0.0]), "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": np.array([0.0, 1.0]), "dims": ["lat"]},
        "lon": {"data": np.array([0.0, 1.0]), "dims": ["lon"]},
        "p": {"data": raw, "dims": ["time", "lat", "lon"],
              "attrs": {"_FillValue": np.int8(-128),
                        "scale_factor": 0.1, "add_offset": 5.0}},
    })
    rows = {(r["y_i"], r["x_i"]): r["p"]
            for r in open_netcdf4_cube(spark, str(path)).collect()}
    assert rows[(0, 0)] == pytest.approx(5.0)
    assert rows[(0, 1)] == pytest.approx(5.1)
    assert rows[(1, 0)] == pytest.approx(5.2)
    assert rows[(1, 1)] is None  # fill -> NULL


# ---- unallocated / sparse storage (defined-but-never-written vars) -----


def _axes_spec(t=2, h=4, w=6):
    return {
        "time": {"data": np.arange(t, dtype="<f8") * 86400.0,
                 "dims": ["time"],
                 "attrs": {"units": "seconds since 1970-01-01"}},
        "lat": {"data": np.linspace(-30.0, 30.0, h), "dims": ["lat"]},
        "lon": {"data": np.linspace(-60.0, 60.0, w), "dims": ["lon"]},
    }


def test_h5_unallocated_chunked(tmp_path):
    """A chunked variable whose B-tree address is undefined (defined
    but never written, as libhdf5 leaves it under late allocation) has
    zero chunks and reads as all-fill — not a garbage B-tree walk."""
    A = np.zeros((2, 4, 6))
    path = str(tmp_path / "u.nc")
    write_hdf5(path, {**_axes_spec(),
                      "A": {"data": A, "dims": ["time", "lat", "lon"],
                            "chunks": (1, 2, 3), "unallocated": True,
                            "fillvalue": np.nan}})
    f = H5File(path)
    assert f.chunks(f.datasets["A"]) == []
    a2, _ = read_h5_array(path, "A")
    assert a2.shape == (2, 4, 6)
    assert np.isnan(a2).all()


def test_h5_unallocated_contiguous(tmp_path):
    """Contiguous variable with an undefined data address reads as a
    full fill-value array instead of crashing in frombuffer."""
    A = np.zeros((2, 4, 6))
    path = str(tmp_path / "uc.nc")
    write_hdf5(path, {**_axes_spec(),
                      "A": {"data": A, "dims": ["time", "lat", "lon"],
                            "unallocated": True, "fillvalue": -7.5}})
    a2, _ = read_h5_array(path, "A")
    assert (a2 == -7.5).all()


def test_h5_sparse_chunks_read(tmp_path):
    """Chunk coordinates absent from the B-tree come back as fill, the
    allocated chunks exactly."""
    rng = np.random.RandomState(3)
    A = rng.rand(2, 4, 6)
    path = str(tmp_path / "sp.nc")
    write_hdf5(path, {**_axes_spec(),
                      "A": {"data": A, "dims": ["time", "lat", "lon"],
                            "chunks": (1, 2, 3), "fillvalue": np.nan,
                            "skip_chunks": {(0, 2, 3), (1, 0, 0)}}})
    f = H5File(path)
    assert len(f.chunks(f.datasets["A"])) == 2 * 2 * 2 - 2
    a2, _ = read_h5_array(path, "A")
    exp = A.copy()
    exp[0:1, 2:4, 3:6] = np.nan
    exp[1:2, 0:2, 0:3] = np.nan
    assert np.allclose(a2, exp, equal_nan=True)


def test_netcdf4_cube_sparse_fill_aligned(spark, tmp_path):
    """open_netcdf4_cube (aligned fast path): cells of a missing chunk
    still exist in the output, fill-valued -> NULL, matching the zarr
    reader and the reference's netCDF4/xarray semantics."""
    rng = np.random.RandomState(4)
    A = rng.rand(3, 4, 6)
    path = str(tmp_path / "spc.nc")
    write_hdf5(path, {**_axes_spec(t=3),
                      "A": {"data": A, "dims": ["time", "lat", "lon"],
                            "chunks": (1, 4, 6), "fillvalue": np.nan,
                            "skip_chunks": {(1, 0, 0)}}})
    back = open_netcdf4_cube(spark, path)
    assert back.count() == 3 * 4 * 6
    assert back.where("t_i = 1 AND A IS NOT NULL").count() == 0
    got = np.full((3, 4, 6), np.nan)
    for r in back.where("t_i != 1").collect():
        got[r["t_i"], r["y_i"], r["x_i"]] = r["A"]
    assert np.allclose(got[[0, 2]], A[[0, 2]])


def test_netcdf4_cube_sparse_fill_unaligned(spark, tmp_path):
    """Pivot fallback path: one var sparse-chunked, one contiguous —
    missing cells of the sparse var are NULL, the dense var complete."""
    rng = np.random.RandomState(6)
    A = rng.rand(2, 4, 6)
    B = rng.rand(2, 4, 6)
    path = str(tmp_path / "spu.nc")
    write_hdf5(path, {**_axes_spec(),
                      "A": {"data": A, "dims": ["time", "lat", "lon"],
                            "chunks": (1, 2, 3), "fillvalue": np.nan,
                            "skip_chunks": {(0, 0, 0)}},
                      "B": {"data": B, "dims": ["time", "lat", "lon"]}})
    back = open_netcdf4_cube(spark, path)
    assert back.count() == 2 * 4 * 6
    assert back.where(
        "t_i = 0 AND y_i < 2 AND x_i < 3 AND A IS NOT NULL").count() == 0
    assert back.where("B IS NULL").count() == 0


# ---- multi-granule virtualization (sources/virtualize.py) --------------


def _granules(tmp_path, n_granules=3, steps=2, h=10, w=14):
    import numpy as np

    rng = np.random.RandomState(5)
    lat = np.linspace(-45, 45, h)
    lon = np.linspace(-90, 90, w)
    paths, truth = [], []
    for g in range(n_granules):
        t = (np.arange(steps) + g * steps) * 86400.0
        A = rng.rand(steps, h, w)
        truth.append(A)
        p = str(tmp_path / f"gran_{g}.nc")
        write_hdf5(p, {
            "time": {"data": t, "dims": ["time"],
                     "attrs": {"units": "seconds since 2020-01-01"}},
            "lat": {"data": lat, "dims": ["lat"]},
            "lon": {"data": lon, "dims": ["lon"]},
            "A": {"data": A, "dims": ["time", "lat", "lon"],
                  "attrs": {"_FillValue": -9.0e33}, "chunks": (1, 5, 7)},
        })
        paths.append(p)
    return paths, np.concatenate(truth, axis=0)


def test_virtualize_mf_roundtrip(spark, tmp_path):
    """Granules scanned distributed, concatenated along time into one
    kerchunk refs doc (time-sorted regardless of input order), opened
    chunk-parallel with exact values and decoded CF time."""
    import datetime

    import numpy as np

    from xcube_spark.sources.virtualize import virtualize_netcdf4_mf
    from xcube_spark.sources.zarrio import open_kerchunk_cube

    paths, want = _granules(tmp_path)
    refs = str(tmp_path / "mf.json")
    n = virtualize_netcdf4_mf(spark, [paths[2], paths[0], paths[1]], refs)
    assert n == 6 * 2 * 2  # 6 time chunks x 2x2 spatial chunks
    cube = open_kerchunk_cube(spark, refs)
    rows = cube.collect()
    assert len(rows) == want.size
    assert max(abs(r["A"] - want[r["t_i"], r["y_i"], r["x_i"]])
               for r in rows) == 0.0
    t0 = min((r["t_i"], r["time"]) for r in rows)
    assert t0 == (0, datetime.datetime(2020, 1, 1))


def test_virtualize_mf_heterogeneous_rejected(spark, tmp_path):
    import numpy as np

    from xcube_spark.sources.virtualize import virtualize_netcdf4_mf

    paths, _ = _granules(tmp_path, n_granules=1)
    bad = str(tmp_path / "bad.nc")
    write_hdf5(bad, {
        "time": {"data": np.array([99.0]), "dims": ["time"],
                 "attrs": {"units": "seconds since 2020-01-01"}},
        "lat": {"data": np.linspace(-10, 10, 4), "dims": ["lat"]},
        "lon": {"data": np.linspace(-10, 10, 5), "dims": ["lon"]},
        "A": {"data": np.zeros((1, 4, 5)), "dims": ["time", "lat", "lon"]},
    })
    with pytest.raises(ValueError, match="different grid"):
        virtualize_netcdf4_mf(spark, paths + [bad],
                              str(tmp_path / "x.json"))


def test_virtualize_json_refs_granule_cap(spark, tmp_path):
    """The JSON refs writer collects all chunk refs driver-side; above
    the granule cap it refuses (before touching any file) and points
    at the distributed parquet-refs path."""
    from xcube_spark.sources.virtualize import (MAX_JSON_REFS_GRANULES,
                                                virtualize_netcdf4_mf)

    fake = [f"/nope/g{i}.nc" for i in range(MAX_JSON_REFS_GRANULES + 1)]
    with pytest.raises(ValueError, match="parquet"):
        virtualize_netcdf4_mf(spark, fake, str(tmp_path / "x.json"))


def test_virtualize_parquet_refs_roundtrip(spark, tmp_path):
    """Parquet-refs variant: chunk references computed and written
    fully distributed (no driver refs map), opened back with exact
    values and one metadata-sized shuffle."""
    import numpy as np

    from xcube_spark.sources.virtualize import (
        open_kerchunk_parquet_cube, virtualize_netcdf4_mf_parquet)

    paths, want = _granules(tmp_path)
    refs_dir = str(tmp_path / "prefs")
    virtualize_netcdf4_mf_parquet(spark, [paths[1], paths[2], paths[0]],
                                  refs_dir)
    cube = open_kerchunk_parquet_cube(spark, refs_dir)
    rows = cube.collect()
    assert len(rows) == want.size
    assert max(abs(r["A"] - want[r["t_i"], r["y_i"], r["x_i"]])
               for r in rows) == 0.0
    # refs table itself is queryable metadata
    refs = spark.read.parquet(refs_dir)
    assert refs.where(refs.inline.isNull()).count() == 6 * 2 * 2


def test_parquet_refs_missing_chunks_fill(spark, tmp_path):
    """Sparse archive: chunk-reference rows deleted from the refs
    table (as an unwritten chunk would leave them) still yield their
    cells, fill-valued -> NULL, instead of dropping coordinates or
    failing on a missing schema column."""
    import numpy as np
    from pyspark.sql import functions as F

    from xcube_spark.sources.virtualize import (
        open_kerchunk_parquet_cube, virtualize_netcdf4_mf_parquet)

    paths, want = _granules(tmp_path)
    refs_dir = str(tmp_path / "prefs_all")
    virtualize_netcdf4_mf_parquet(spark, paths, refs_dir)
    sparse_dir = str(tmp_path / "prefs_sparse")
    # drop every reference of one chunk coordinate (t-chunk 1) and, for
    # another coordinate (t-chunk 2), the only variable's reference
    spark.read.parquet(refs_dir).where(
        F.col("inline").isNotNull()
        | ~F.col("key").rlike(r"^A/(1|2)\.")
    ).write.parquet(sparse_dir)

    cube = open_kerchunk_parquet_cube(spark, sparse_dir)
    assert cube.count() == want.size  # no dropped coordinates
    assert cube.where("t_i IN (1, 2) AND A IS NOT NULL").count() == 0
    rows = cube.where("t_i NOT IN (1, 2)").collect()
    assert max(abs(r["A"] - want[r["t_i"], r["y_i"], r["x_i"]])
               for r in rows) == 0.0


def test_refs_paths_keep_var_names_order(spark, tmp_path):
    """Both refs paths return the columns in the caller's var_names
    order and the same cells."""
    from xcube_spark.sources.virtualize import (
        open_kerchunk_parquet_cube, virtualize_netcdf4_mf,
        virtualize_netcdf4_mf_parquet)
    from xcube_spark.sources.zarrio import open_kerchunk_cube

    rng = np.random.RandomState(3)
    path = str(tmp_path / "ab.nc")
    write_hdf5(path, {
        "time": {"data": np.arange(2.0) * 86400.0, "dims": ["time"],
                 "attrs": {"units": "seconds since 2020-01-01"}},
        "lat": {"data": np.linspace(-45.0, 45.0, 6), "dims": ["lat"]},
        "lon": {"data": np.linspace(-90.0, 90.0, 8), "dims": ["lon"]},
        "a": {"data": rng.rand(2, 6, 8), "dims": ["time", "lat", "lon"],
              "chunks": (1, 3, 4)},
        "b": {"data": rng.rand(2, 6, 8), "dims": ["time", "lat", "lon"],
              "chunks": (1, 3, 4)},
    })
    refs, refs_dir = str(tmp_path / "ab.json"), str(tmp_path / "ab_refs")
    virtualize_netcdf4_mf(spark, [path], refs)
    virtualize_netcdf4_mf_parquet(spark, [path], refs_dir)
    by_json = open_kerchunk_cube(spark, refs, var_names=["b", "a"])
    by_parquet = open_kerchunk_parquet_cube(spark, refs_dir,
                                            var_names=["b", "a"])
    cols = ["t_i", "y_i", "x_i", "time", "y", "x", "b", "a"]
    assert by_json.columns == cols and by_parquet.columns == cols
    assert by_json.count() == 2 * 6 * 8
    assert by_json.exceptAll(by_parquet).count() == 0
    assert by_parquet.exceptAll(by_json).count() == 0
