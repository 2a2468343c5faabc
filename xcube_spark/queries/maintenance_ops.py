"""Maintenance & store coverage queries (SURVEY §2.1, §2.10) —
oracle-checked: empty-chunk discovery, time-slice replace, lon
normalization, and the dataset descriptor aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube, new_cube_sql
from xcube_spark.operators.maintenance import (
    get_empty_dataset_chunks,
    normalize_dataset,
)
from xcube_spark.queries import query
from xcube_spark.queries.cube_ops import CUBE_CTE, GRID, SPARK_VARS


@query(
    "cube_empty_chunks",
    sql=f"""
        {CUBE_CTE}
        SELECT CAST((t_i // 1) * 8 + (y_i // 90) * 4 + (x_i // 90)
                    AS BIGINT) AS chunk_id
        FROM cube
        GROUP BY 1
        HAVING bool_and(CASE WHEN t_i = 0 AND y_i < 90 AND x_i < 90
                             THEN NULL ELSE A END IS NULL)
    """,
)
def cube_empty_chunks(spark, sf_dir):
    """get_empty_dataset_chunks (chunk.py:49-86): the default chunk grid
    (1, 90, 90) tiles the 360x180x5 cube into 40 chunks; NULLing the
    t=0 lower-left chunk makes exactly one all-NULL chunk."""
    cube = new_cube(spark, GRID, variables=SPARK_VARS).withColumn(
        "A",
        F.when(
            (F.col("t_i") == 0) & (F.col("y_i") < 90) & (F.col("x_i") < 90),
            F.lit(None).cast("double"),
        ).otherwise(F.col("A")),
    ).select("t_i", "y_i", "x_i", "time", "y", "x", "A")
    return get_empty_dataset_chunks(cube, GRID)


@query(
    "cube_timeslice_replace",
    sql=f"""
        {CUBE_CTE}
        SELECT t_i, COUNT(*) AS n,
               ROUND(SUM(CASE WHEN t_i = 2 THEN -1.0 ELSE A END), 4) + 0.0
                   AS A_checksum
        FROM cube
        GROUP BY t_i
    """,
)
def cube_timeslice_replace(spark, sf_dir):
    """replace_time_slice (timeslice.py:113-131): swap slice t_i=2 for a
    constant slice; per-slice checksums prove old rows dropped, new rows
    present, other slices untouched."""
    from xcube_spark.sources.timeslice import replace_time_slice

    cube = new_cube(spark, GRID, variables=SPARK_VARS).select(
        "t_i", "y_i", "x_i", "time", "y", "x", "A"
    )
    repl = new_cube(spark, GRID, variables={"A": -1.0}).where(
        F.col("t_i") == 2
    ).select("t_i", "y_i", "x_i", "time", "y", "x", "A")
    out = replace_time_slice(cube, repl, t_i=2)
    # + 0.0 canonicalizes IEEE negative zero (the t=0 slice checksum is
    # a symmetric sum that lands on -0.0 in one engine, +0.0 in the other)
    return out.groupBy("t_i").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.sum("A"), 4) + F.lit(0.0)).alias("A_checksum"),
    )


_G360 = CubeGrid(x_start=0.0)


@query(
    "cube_normalize_lon",
    sql=f"""
        WITH cube AS ({new_cube_sql(_G360)})
        SELECT CAST((x_i + 180) % 360 AS INT) AS x_i,
               ROUND(CAST(CASE WHEN x >= 180.0 THEN x - 360.0 ELSE x END
                          AS DOUBLE), 6) AS x,
               ROUND(SUM(A), 4) AS A_checksum
        FROM cube
        GROUP BY 1, 2
    """,
)
def cube_normalize_lon(spark, sf_dir):
    """normalize_dataset lon shift (normalize.py:389): a 0..360 cube
    re-indexed to -180..180; per-column checksums prove the shift is a
    pure relabeling (values travel with their cells)."""
    cube = new_cube(spark, _G360, variables=SPARK_VARS)
    out, _ = normalize_dataset(cube, _G360)
    return out.groupBy("x_i", F.round("x", 6).alias("x")).agg(
        F.round(F.sum("A"), 4).alias("A_checksum")
    )


@query(
    "cube_descriptor",
    sql=f"""
        {CUBE_CTE}
        SELECT COUNT(*) AS num_rows,
               COUNT(DISTINCT t_i) AS n_time,
               COUNT(DISTINCT y_i) AS n_y,
               COUNT(DISTINCT x_i) AS n_x,
               ROUND(CAST(MIN(x) AS DOUBLE), 6) AS x_min,
               ROUND(CAST(MAX(x) AS DOUBLE), 6) AS x_max,
               ROUND(CAST(MIN(y) AS DOUBLE), 6) AS y_min,
               ROUND(CAST(MAX(y) AS DOUBLE), 6) AS y_max,
               CAST(MIN(time) AS TIMESTAMP) AS t_min,
               CAST(MAX(time) AS TIMESTAMP) AS t_max,
               COUNT(A) AS A_valid,
               ROUND(MIN(A), 6) AS A_min, ROUND(MAX(A), 6) AS A_max
        FROM cube
    """,
)
def cube_descriptor(spark, sf_dir):
    """describe_data's one-scan aggregate (store/descriptor.py:180):
    dims, bbox, time range, per-variable summary in a single job."""
    cube = new_cube(spark, GRID, variables=SPARK_VARS)
    return cube.agg(
        F.count(F.lit(1)).alias("num_rows"),
        F.count_distinct("t_i").alias("n_time"),
        F.count_distinct("y_i").alias("n_y"),
        F.count_distinct("x_i").alias("n_x"),
        F.round(F.min("x"), 6).alias("x_min"),
        F.round(F.max("x"), 6).alias("x_max"),
        F.round(F.min("y"), 6).alias("y_min"),
        F.round(F.max("y"), 6).alias("y_max"),
        F.min("time").alias("t_min"),
        F.max("time").alias("t_max"),
        F.count("A").alias("A_valid"),
        F.round(F.min("A"), 6).alias("A_min"),
        F.round(F.max("A"), 6).alias("A_max"),
    )


@query(
    "cube_chunk_store",
    sql="""
        WITH idx AS (
            SELECT CAST(range // 64800 AS INT) AS t_i,
                   CAST((range % 64800) // 360 AS INT) AS y_i,
                   CAST(range % 360 AS INT) AS x_i
            FROM range(324000)
        )
        SELECT t_i, COUNT(*) AS n,
               ROUND(SUM(CAST(t_i * 1000.0 + y_i * 10.0 + x_i AS DOUBLE)),
                     4) AS V_checksum
        FROM idx
        WHERE y_i < 90
        GROUP BY t_i
    """,
)
def cube_chunk_store(spark, sf_dir):
    """Virtual chunk-computed dataset (chunkstore.py:36-224 /
    zarrstore/generic.py): a generator DataFrame whose chunks are
    synthesized on demand by a user get_data callable; the subset
    filter proves cells stream out of compute correctly."""
    import numpy as np

    from xcube_spark.queries.cube_ops import GRID
    from xcube_spark.sources.chunkstore import open_chunk_store

    def get_data(chunk_idx, bounds):
        t0, t1, y0, y1, x0, x1 = bounds
        tt, yy, xx = np.meshgrid(
            np.arange(t0, t1), np.arange(y0, y1), np.arange(x0, x1),
            indexing="ij")
        return {"V": tt * 1000.0 + yy * 10.0 + xx}

    virt = open_chunk_store(spark, GRID, get_data, ["V"])
    return virt.where(F.col("y_i") < 90).groupBy("t_i").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("V"), 4).alias("V_checksum"),
    )


@query(
    "cube_normalize_time",
    sql=f"""
        {CUBE_CTE},
        jd AS (
            SELECT t_i, y_i, x_i, A,
                   (2455197.0 + t_i * 2 + 0.75) AS jdn
            FROM cube
        ), dec AS (
            SELECT CAST(date_trunc('day',
                        to_timestamp((jdn - 2440587.5) * 86400.0))
                        AS TIMESTAMP) AS time,
                   A
            FROM jd
        )
        SELECT time, COUNT(*) AS n,
               ROUND(AVG(A), 6) + 0.0 AS A_mean  -- kill IEEE -0.0
        FROM dec GROUP BY time
    """,
)
def cube_normalize_time(spark, sf_dir):
    """Julian-day time decode (normalize.py:465 _normalize_jd2datetime):
    a 'time in julian days' axis (JD numbers with a fraction past noon)
    decodes to calendar-date timestamps; the oracle restates the same
    epoch arithmetic.  Covers the attribute gate and the civil-day
    truncation (JD days start at noon)."""
    from xcube_spark.operators.maintenance import decode_julian_time

    cube = new_cube(spark, GRID, variables=SPARK_VARS).withColumn(
        "jdn", F.lit(2455197.0) + F.col("t_i") * 2 + F.lit(0.75))
    dec = decode_julian_time(cube, "jdn",
                             attrs={"units": "time in julian days"})
    return dec.groupBy(F.col("jdn").alias("time")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg("A"), 6) + F.lit(0.0)).alias("A_mean"),
    )


_NETCDF_PATH: dict[str, str] = {}


@query(
    "cube_netcdf_ingest",
    sql=f"""
        {CUBE_CTE}
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) + 0.0 AS A_sum,
               ROUND(AVG(A), 6) + 0.0 AS A_mean
        FROM cube GROUP BY t_i
    """,
)
def cube_netcdf_ingest(spark, sf_dir):
    """Classic-NetCDF round-trip (Netcdf4DatasetIO, core/dsio.py:359):
    the fixture cube written as CDF-1 (CF time units, _FillValue),
    re-ingested plane-parallel, aggregated per time step — float64
    variables round-trip bit-exactly, so the oracle recomputes from
    the cube definition directly."""
    import tempfile

    from xcube_spark.sources.netcdf3 import open_netcdf_cube, write_netcdf_cube

    if "p" not in _NETCDF_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_nc_") + "/fixture.nc"
        write_netcdf_cube(new_cube(spark, GRID, variables=SPARK_VARS),
                          path, GRID, var_names=["A"])
        _NETCDF_PATH["p"] = path
    back = open_netcdf_cube(spark, _NETCDF_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        (F.round(F.sum("A"), 4) + F.lit(0.0)).alias("A_sum"),
        (F.round(F.avg("A"), 6) + F.lit(0.0)).alias("A_mean"),
    )


_NETCDF4_PATH: dict[str, str] = {}


@query(
    "cube_netcdf4_ingest",
    sql=f"""
        {CUBE_CTE}
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) + 0.0 AS A_sum,
               ROUND(AVG(A), 6) + 0.0 AS A_mean,
               CAST(SUM(flags) AS BIGINT) AS flags_sum
        FROM cube GROUP BY t_i
    """,
)
def cube_netcdf4_ingest(spark, sf_dir):
    """netCDF-4/HDF5 round-trip (Netcdf4DatasetIO, core/dsio.py:359):
    the fixture cube written as a self-implemented HDF5 file
    (superblock v0, dimension scales + DIMENSION_LIST global-heap
    refs, chunked + shuffle + deflate variables), re-ingested
    chunk-parallel (wide, shuffle-free task plan), aggregated per time
    step — float64 variables round-trip bit-exactly, so the oracle
    recomputes from the cube definition directly."""
    import tempfile

    from xcube_spark.sources.hdf5 import (open_netcdf4_cube,
                                          write_netcdf4_cube)

    if "p" not in _NETCDF4_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_h5_") + "/fixture.nc"
        write_netcdf4_cube(new_cube(spark, GRID, variables=SPARK_VARS),
                           path, GRID, var_names=["A", "flags"])
        _NETCDF4_PATH["p"] = path
    back = open_netcdf4_cube(spark, _NETCDF4_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        (F.round(F.sum("A"), 4) + F.lit(0.0)).alias("A_sum"),
        (F.round(F.avg("A"), 6) + F.lit(0.0)).alias("A_mean"),
        F.sum("flags").cast("bigint").alias("flags_sum"),
    )


_MF_REFS_PATH: dict[str, str] = {}


@query(
    "cube_netcdf4_mf_virtual",
    sql=f"""
        {CUBE_CTE}
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) + 0.0 AS A_sum,
               ROUND(AVG(A), 6) + 0.0 AS A_mean
        FROM cube GROUP BY t_i
    """,
)
def cube_netcdf4_mf_virtual(spark, sf_dir):
    """Multi-granule virtualization (the kerchunk workflow the
    reference consumes via its reference store): the fixture cube
    split into three netCDF-4 granules along time (2+2+1 steps),
    scanned DISTRIBUTED (mapInPandas HDF5 metadata parse,
    sources/virtualize.py), concatenated into one kerchunk refs doc,
    and opened chunk-parallel through open_kerchunk_cube — float64
    round-trips bit-exactly, so the oracle recomputes from the cube
    definition."""
    import tempfile
    from dataclasses import replace
    from datetime import timedelta

    from xcube_spark.sources.hdf5 import write_netcdf4_cube
    from xcube_spark.sources.virtualize import virtualize_netcdf4_mf
    from xcube_spark.sources.zarrio import open_kerchunk_cube

    if "p" not in _MF_REFS_PATH:
        d = tempfile.mkdtemp(prefix="xcube_spark_mf_")
        cube = new_cube(spark, GRID, variables=SPARK_VARS)
        paths, off = [], 0
        for g, steps in enumerate((2, 2, 1)):
            sub = replace(
                GRID, time_periods=steps,
                t_start=GRID.t_start
                + timedelta(days=off * GRID.t_freq_days))
            part = cube.where(F.col("t_i").between(off, off + steps - 1)) \
                .withColumn("t_i", F.col("t_i") - F.lit(off))
            p = f"{d}/granule_{g}.nc"
            write_netcdf4_cube(part, p, sub, var_names=["A"])
            paths.append(p)
            off += steps
        refs = f"{d}/refs.json"
        virtualize_netcdf4_mf(spark, list(reversed(paths)), refs)
        _MF_REFS_PATH["p"] = refs
    back = open_kerchunk_cube(spark, _MF_REFS_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        (F.round(F.sum("A"), 4) + F.lit(0.0)).alias("A_sum"),
        (F.round(F.avg("A"), 6) + F.lit(0.0)).alias("A_mean"),
    )


_GEOTIFF_PATH: dict[str, str] = {}


@query(
    "cube_geotiff_ingest",
    sql=f"""
        {CUBE_CTE}
        SELECT y_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) AS A_sum,
               ROUND(AVG(A), 6) + 0.0 AS A_mean
        FROM cube WHERE t_i = 0
        GROUP BY y_i
    """,
)
def cube_geotiff_ingest(spark, sf_dir):
    """GeoTIFF round-trip (plugin.py geotiff accessors / rioxarray
    openers): the fixture cube's t=0 plane written as a tiled DEFLATE
    float64 GeoTIFF (GeoKeys, GDAL_NODATA, tiepoint georeferencing),
    re-ingested chunk-parallel, and aggregated per row — float64 bands
    round-trip bit-exactly, so the oracle recomputes from the cube
    definition directly."""
    import tempfile

    from xcube_spark.sources.geotiff import open_geotiff_cube, write_geotiff

    if "p" not in _GEOTIFF_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_tif_") + "/plane.tif"
        plane = new_cube(spark, GRID, variables=SPARK_VARS) \
            .where(F.col("t_i") == 0)
        write_geotiff(plane, path, ["A"], width=GRID.width,
                      height=GRID.height, tile=128,
                      x_start=GRID.x_start, y_end=GRID.y_end,
                      res=GRID.x_res, epsg=4326)
        _GEOTIFF_PATH["p"] = path
    back = open_geotiff_cube(spark, _GEOTIFF_PATH["p"], band_names=["A"])
    return back.groupBy("y_i").agg(
        F.count("A").alias("n"),
        F.round(F.sum("A"), 4).alias("A_sum"),
        (F.round(F.avg("A"), 6) + F.lit(0.0)).alias("A_mean"),
    )


_JP2_PATH: dict[str, str] = {}


@query(
    "cube_jp2_ingest",
    sql=f"""
        {CUBE_CTE}
        SELECT y_i, COUNT(*) AS n,
               CAST(SUM(20 * y_i + 2 * x_i + 851) AS BIGINT) AS q_sum,
               CAST(MIN(20 * y_i + 2 * x_i + 851) AS BIGINT) AS q_min,
               CAST(MAX(20 * y_i + 2 * x_i + 851) AS BIGINT) AS q_max
        FROM cube WHERE t_i = 0
        GROUP BY y_i
    """,
)
def cube_jp2_ingest(spark, sf_dir):
    """JPEG-2000 round-trip (ref plugin.py:102-107 j2k/jp2 openers):
    the fixture cube's t=0 plane quantized to uint16, written as a
    lossless JP2 (self-implemented Part 1 codec: MQ coder, EBCOT
    Tier-1, tag-tree packets, 5/3 DWT, 64x64 tiles), re-ingested
    tile-parallel and aggregated per row.

    Quantization is INTEGER-EXACT on both sides (r7, VERDICT r6 item
    1): the plane is ``Q = 20*y_i + 2*x_i + 851`` computed in pure
    integer arithmetic, which equals the old ``round(A*200)+3000`` in
    exact math (A = t_i + 0.1*(y_i-89.5) + 0.01*(x_i-179.5) at t=0) —
    but no longer rests on Spark/DuckDB producing bit-identical
    doubles near rounding boundaries, the suspected cause of the
    round-6 driver-only hash fail (Python round() is half-even,
    DuckDB ROUND is half-away).  Range [851, 5149] fits uint16, and
    reversible 5/3 coding round-trips the integers exactly."""
    import tempfile

    from xcube_spark.sources.jp2 import open_jp2_cube, write_jp2_cube_plane

    if "p" not in _JP2_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_jp2_") + "/plane.jp2"
        plane = new_cube(spark, GRID, variables=SPARK_VARS) \
            .where(F.col("t_i") == 0) \
            .withColumn(
                "Q",
                (20 * F.col("y_i") + 2 * F.col("x_i") + 851)
                .cast("double"))
        write_jp2_cube_plane(plane, path, "Q", width=GRID.width,
                             height=GRID.height, scale=1.0,
                             offset=0.0, tile=(64, 64))
        _JP2_PATH["p"] = path
    back = open_jp2_cube(spark, _JP2_PATH["p"], band_name="A")
    return back.groupBy("y_i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("A").cast("long")).alias("q_sum"),
        F.min(F.col("A").cast("long")).alias("q_min"),
        F.max(F.col("A").cast("long")).alias("q_max"),
    )


_ZARR_PATH: dict[str, str] = {}


@query(
    "cube_zarr_ingest",
    sql=f"""
        {CUBE_CTE},
        dec AS (
            -- the zarr round-trip packs A as int16 with scale 2^-7
            -- (CF encoding, floor(q+0.5) quantization — zarrio.py).
            -- The power-of-two scale keeps every quantization boundary
            -- >= 0.004 quanta away from any fixture value, so the two
            -- engines' ~1-ulp differences in A can never flip a bin.
            SELECT t_i,
                   FLOOR(A / CAST(0.0078125 AS DOUBLE) + 0.5)
                       * CAST(0.0078125 AS DOUBLE) AS A,
                   flags
            FROM cube
        )
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) AS A_sum,
               ROUND(AVG(A), 6) AS A_mean,
               CAST(SUM(flags) AS BIGINT) AS flags_sum
        FROM dec GROUP BY t_i
    """,
)
def cube_zarr_ingest(spark, sf_dir):
    """Zarr v2 round-trip (ZarrDatasetIO, core/dsio.py:411): write the
    fixture cube to a self-implemented Zarr v2 store — A packed as
    int16 with scale_factor/add_offset/_FillValue CF attrs, flags as
    int32 — then ingest it back (chunk-parallel mapInPandas decode
    that also emits the coordinates, no joins) and aggregate.  Proves
    metadata, chunk layout, compression, CF packing, and coordinate
    decode end to end against the analytically recomputed oracle."""
    import tempfile

    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    if "p" not in _ZARR_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_zarr_") + "/fixture.zarr"
        write_zarr_cube(
            new_cube(spark, GRID, variables=SPARK_VARS), path, GRID,
            var_names=["A", "flags"],
            encoding={
                "A": {"dtype": "<i2", "scale_factor": 0.0078125,
                      "add_offset": 0.0, "fill_value": -32768},
                "flags": {"dtype": "<i4", "fill_value": -1},
            },
        )
        _ZARR_PATH["p"] = path
    back = open_zarr_cube(spark, _ZARR_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        F.round(F.sum("A"), 4).alias("A_sum"),
        F.round(F.avg("A"), 6).alias("A_mean"),
        F.sum("flags").cast("bigint").alias("flags_sum"),
    )


_ZARR3_PATH: dict[str, str] = {}


@query(
    "cube_zarr_v3_ingest",
    sql=f"""
        {CUBE_CTE},
        dec AS (
            SELECT t_i,
                   FLOOR(A / CAST(0.0078125 AS DOUBLE) + 0.5)
                       * CAST(0.0078125 AS DOUBLE) AS A,
                   flags
            FROM cube
        )
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) AS A_sum,
               ROUND(AVG(A), 6) AS A_mean,
               CAST(SUM(flags) AS BIGINT) AS flags_sum
        FROM dec GROUP BY t_i
    """,
)
def cube_zarr_v3_ingest(spark, sf_dir):
    """Zarr v3 round-trip: same CF-packed fixture as cube_zarr_ingest
    but written in the v3 layout (root/array zarr.json documents,
    c/i/j/k chunk keys, bytes+gzip codec chain — zarrio.py
    _read_store_v3/_write_array_meta) and ingested back through the
    shared chunk-parallel reader core.  Same analytic oracle: the
    quantization math is format-independent."""
    import tempfile

    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    if "p" not in _ZARR3_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_zarr3_") + "/fixture.zarr"
        write_zarr_cube(
            new_cube(spark, GRID, variables=SPARK_VARS), path, GRID,
            var_names=["A", "flags"],
            encoding={
                "A": {"dtype": "<i2", "scale_factor": 0.0078125,
                      "add_offset": 0.0, "fill_value": -32768},
                "flags": {"dtype": "<i4", "fill_value": -1},
            },
            zarr_format=3,
        )
        _ZARR3_PATH["p"] = path
    back = open_zarr_cube(spark, _ZARR3_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        F.round(F.sum("A"), 4).alias("A_sum"),
        F.round(F.avg("A"), 6).alias("A_mean"),
        F.sum("flags").cast("bigint").alias("flags_sum"),
    )


_ZARR_SHARD_PATH: dict[str, str] = {}


@query(
    "cube_zarr_sharded_ingest",
    sql=f"""
        {CUBE_CTE},
        dec AS (
            SELECT t_i,
                   FLOOR(A / CAST(0.0078125 AS DOUBLE) + 0.5)
                       * CAST(0.0078125 AS DOUBLE) AS A,
                   flags
            FROM cube
        )
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) AS A_sum,
               ROUND(AVG(A), 6) AS A_mean,
               CAST(SUM(flags) AS BIGINT) AS flags_sum
        FROM dec GROUP BY t_i
    """,
)
def cube_zarr_sharded_ingest(spark, sf_dir):
    """Zarr v3 SHARDED round-trip: the cube_zarr_v3_ingest fixture
    written through the sharding_indexed codec (zarrio.py
    _encode_shard/_decode_shard: grid chunks become inner chunks,
    each store object is one 2x2x2-chunk shard with a
    crc32c-checksummed uint64-pair index at the object end, all-fill
    inner chunks omitted).  The 100 TB layout — object count scales
    with shards, chunk addressing survives inside the index.  Same
    analytic oracle: the quantization math is format- and
    layout-independent."""
    import tempfile

    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube

    if "p" not in _ZARR_SHARD_PATH:
        path = tempfile.mkdtemp(prefix="xcube_spark_zarrsh_") \
            + "/fixture.zarr"
        write_zarr_cube(
            new_cube(spark, GRID, variables=SPARK_VARS), path, GRID,
            var_names=["A", "flags"],
            encoding={
                "A": {"dtype": "<i2", "scale_factor": 0.0078125,
                      "add_offset": 0.0, "fill_value": -32768},
                "flags": {"dtype": "<i4", "fill_value": -1},
            },
            zarr_format=3,
            shards=(GRID.chunks[0] * 2, GRID.chunks[1] * 2,
                    GRID.chunks[2] * 2),
        )
        _ZARR_SHARD_PATH["p"] = path
    back = open_zarr_cube(spark, _ZARR_SHARD_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        F.round(F.sum("A"), 4).alias("A_sum"),
        F.round(F.avg("A"), 6).alias("A_mean"),
        F.sum("flags").cast("bigint").alias("flags_sum"),
    )


_SHARD_REFS_PATH: dict[str, str] = {}


@query(
    "cube_zarr_sharded_virtual",
    sql=f"""
        {CUBE_CTE},
        dec AS (
            SELECT t_i,
                   FLOOR(A / CAST(0.0078125 AS DOUBLE) + 0.5)
                       * CAST(0.0078125 AS DOUBLE) AS A,
                   flags
            FROM cube
        )
        SELECT t_i, COUNT(A) AS n,
               ROUND(SUM(A), 4) AS A_sum,
               ROUND(AVG(A), 6) AS A_mean,
               CAST(SUM(flags) AS BIGINT) AS flags_sum
        FROM dec GROUP BY t_i
    """,
)
def cube_zarr_sharded_virtual(spark, sf_dir):
    """Kerchunk virtualization OF a sharded v3 store (zarrio.py
    virtualize_sharded_store): every inner chunk becomes a byte-range
    reference into its shard object, built from the shard INDEXES
    alone (tail range reads; no chunk payload is touched), then the
    cube opens through the kerchunk reader with inner-chunk task
    granularity — fine-grid scan parallelism over the shard-grid
    object count, the 100 TB read path.  Same analytic oracle: the
    addressing layer must not change a single value."""
    from xcube_spark.sources.zarrio import (open_kerchunk_cube,
                                            virtualize_sharded_store)

    cube_zarr_sharded_ingest  # fixture dependency (builds the store)
    if "p" not in _SHARD_REFS_PATH:
        # reuse (or build) the sharded fixture
        if "p" not in _ZARR_SHARD_PATH:
            cube_zarr_sharded_ingest(spark, sf_dir).collect()
        refs = _ZARR_SHARD_PATH["p"] + ".refs.json"
        virtualize_sharded_store(_ZARR_SHARD_PATH["p"], refs)
        _SHARD_REFS_PATH["p"] = refs
    back = open_kerchunk_cube(spark, _SHARD_REFS_PATH["p"])
    return back.groupBy("t_i").agg(
        F.count("A").alias("n"),
        F.round(F.sum("A"), 4).alias("A_sum"),
        F.round(F.avg("A"), 6).alias("A_mean"),
        F.sum("flags").cast("bigint").alias("flags_sum"),
    )


_GEOJSON_PATH: dict[str, str] = {}


@query(
    "cube_geojson_ingest",
    sql="""
        SELECT CAST(n_nationkey AS VARCHAR) AS feature_id,
               n_name AS name,
               ROUND(CAST(n_nationkey AS DOUBLE) * 7.5 - 90.0, 6) AS x,
               ROUND(CAST(n_regionkey AS DOUBLE) * 15.0 - 30.0, 6) AS y
        FROM nation
    """,
)
def cube_geojson_ingest(spark, sf_dir):
    """GeoJSON feature ingest (open_geojson_features, reference
    xcube/util/geojson.py + the geodataframe accessors,
    xcube/core/store/fs/impl/geodataframe.py): the nation table is
    written as a NEWLINE-DELIMITED GeoJSON file (one Feature per
    line) so the DISTRIBUTED parse path is the one gated —
    spark.read.text splits the file and each task JSON-decodes its
    own lines via mapInPandas; point coordinates come back through
    the WKT round-trip and are compared numerically (regexp parse +
    cast, no string-format parity needed)."""
    import json
    import tempfile

    from xcube_spark.queries import tbl
    from xcube_spark.sources.features import open_geojson_features

    if sf_dir not in _GEOJSON_PATH:
        rows = tbl(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey").collect()
        path = (tempfile.mkdtemp(prefix="xcube_spark_geojson_")
                + "/places.geojsonl")
        with open(path, "w", encoding="utf-8") as f:
            for r in sorted(rows, key=lambda r: r.n_nationkey):
                feat = {
                    "type": "Feature",
                    "id": int(r.n_nationkey),
                    "geometry": {
                        "type": "Point",
                        "coordinates": [r.n_nationkey * 7.5 - 90.0,
                                        r.n_regionkey * 15.0 - 30.0]},
                    "properties": {"name": r.n_name},
                }
                f.write(json.dumps(feat) + "\n")
        _GEOJSON_PATH[sf_dir] = path
    feats = open_geojson_features(spark, _GEOJSON_PATH[sf_dir])
    pt = r"POINT\((-?[0-9.]+) (-?[0-9.]+)\)"
    return feats.select(
        "feature_id",
        F.get_json_object("properties", "$.name").alias("name"),
        F.round(F.regexp_extract("geometry", pt, 1).cast("double"), 6)
        .alias("x"),
        F.round(F.regexp_extract("geometry", pt, 2).cast("double"), 6)
        .alias("y"),
    )


_SHP_PATH: dict[str, str] = {}


def _write_point_shapefile(path_base: str, rows) -> str:
    """Minimal ESRI point shapefile writer (.shp + .dbf, public
    binary spec) for the ingest gate fixture — records are
    (id, name, x, y) point features with a C(25) NAME and N(4) NKEY
    field."""
    import struct

    recs = b""
    for i, (nkey, name, x, y) in enumerate(rows, start=1):
        body = struct.pack("<i2d", 1, float(x), float(y))  # point
        recs += struct.pack(">2i", i, len(body) // 2) + body
    xs = [r[2] for r in rows]
    ys = [r[3] for r in rows]
    header = struct.pack(">7i", 9994, 0, 0, 0, 0, 0,
                         (100 + len(recs)) // 2)
    header += struct.pack("<2i", 1000, 1)
    header += struct.pack("<8d", min(xs), min(ys), max(xs), max(ys),
                          0, 0, 0, 0)
    with open(path_base + ".shp", "wb") as f:
        f.write(header + recs)
    n_rec = len(rows)
    rec_len = 1 + 25 + 4
    dbf = struct.pack("<B3Bi2H20x", 3, 24, 1, 1, n_rec,
                      32 + 32 * 2 + 1, rec_len)
    dbf += (b"NAME" + b"\x00" * 7 + b"C" + b"\x00" * 4 + bytes([25])
            + b"\x00" * 15)
    dbf += (b"NKEY" + b"\x00" * 7 + b"N" + b"\x00" * 4 + bytes([4])
            + b"\x00" * 15)
    dbf += b"\x0d"
    for nkey, name, _x, _y in rows:
        dbf += b" " + name.encode("ascii").ljust(25) \
            + str(int(nkey)).rjust(4).encode("ascii")
    with open(path_base + ".dbf", "wb") as f:
        f.write(dbf)
    return path_base + ".shp"


@query(
    "cube_shapefile_ingest",
    sql="""
        SELECT CAST(n_nationkey AS BIGINT) AS nkey,
               trim(n_name) AS name,
               ROUND(CAST(n_nationkey AS DOUBLE) * 7.5 - 90.0, 6) AS x,
               ROUND(CAST(n_regionkey AS DOUBLE) * 15.0 - 30.0, 6) AS y
        FROM nation
    """,
)
def cube_shapefile_ingest(spark, sf_dir):
    """ESRI Shapefile ingest (open_shapefile_features, reference
    geodataframe accessors via geopandas/Shapefile —
    xcube/core/store/fs/impl/geodataframe.py): the nation table is
    written as a point .shp/.dbf pair with this module's minimal
    spec-level writer and read back through the repo's
    self-implemented parser (shape records + DBF C/N fields); point
    coordinates compare numerically after the WKT round-trip."""
    import tempfile

    from xcube_spark.queries import tbl
    from xcube_spark.sources.features import open_shapefile_features

    if sf_dir not in _SHP_PATH:
        rows = [(r.n_nationkey, r.n_name,
                 r.n_nationkey * 7.5 - 90.0, r.n_regionkey * 15.0 - 30.0)
                for r in sorted(
                    tbl(spark, sf_dir, "nation").select(
                        "n_nationkey", "n_name", "n_regionkey").collect(),
                    key=lambda r: r.n_nationkey)]
        base = tempfile.mkdtemp(prefix="xcube_spark_shp_") + "/nations"
        _SHP_PATH[sf_dir] = _write_point_shapefile(base, rows)
    feats = open_shapefile_features(spark, _SHP_PATH[sf_dir])
    pt = r"POINT\((-?[0-9.]+) (-?[0-9.]+)\)"
    return feats.select(
        F.col("NKEY").cast("long").alias("nkey"),
        F.trim("NAME").alias("name"),
        F.round(F.regexp_extract("geometry", pt, 1).cast("double"), 6)
        .alias("x"),
        F.round(F.regexp_extract("geometry", pt, 2).cast("double"), 6)
        .alias("y"),
    )


# --------------------------------------------------------------------------
# round-12 promotions: rechunk invariants + CF calendar decode


@query(
    "cube_rechunk_checksum",
    sql=f"""
        {CUBE_CTE}
        SELECT CAST((t_i // 2) * 24 + (y_i // 45) * 6 + (x_i // 60)
                    AS BIGINT) AS chunk_id,
               COUNT(*) AS n,
               ROUND(SUM(A), 4) + 0.0 AS a_sum,
               MIN(t_i) AS t_lo, MAX(t_i) AS t_hi,
               MIN(y_i) AS y_lo, MAX(y_i) AS y_hi,
               MIN(x_i) AS x_lo, MAX(x_i) AS x_hi
        FROM cube
        GROUP BY 1
    """,
)
def cube_rechunk_checksum(spark, sf_dir):
    """chunk_dataset / rechunk (maintenance.py:22, reference
    chunk.py:15-46): re-keying the 360x180x5 cube to (2, 45, 60)
    chunks and re-partitioning on the packed chunk id preserves every
    cell exactly — per-chunk row counts, value checksum, and index
    bounds all survive the shuffle.  The oracle restates the packed
    chunk-id arithmetic ((5+1)//2=3 x 4 x 6 = 72 chunks)."""
    from xcube_spark.operators.maintenance import chunk_dataset

    cube = new_cube(spark, GRID, variables=SPARK_VARS)
    rc = chunk_dataset(cube, GRID, chunks=(2, 45, 60))
    return rc.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.sum("A"), 4) + F.lit(0.0)).alias("a_sum"),
        F.min("t_i").alias("t_lo"), F.max("t_i").alias("t_hi"),
        F.min("y_i").alias("y_lo"), F.max("y_i").alias("y_hi"),
        F.min("x_i").alias("x_lo"), F.max("x_i").alias("x_hi"),
    )


def _fixed_cal_sql(ep_days: int, year_days: int, cum: list[int],
                   feb_clamp: str | None) -> str:
    """DuckDB twin of cftime._fixed_year_decode for a whole-day value
    column ``v`` (day-unit, midnight epoch): same floor/carry shape,
    quarter-day fractions are exact dyadic doubles on both engines."""
    month_case = "CASE " + " ".join(
        f"WHEN doy >= {cum[m - 1]} THEN {m}"
        for m in range(12, 1, -1)) + " ELSE 1 END"
    cum_case = "CASE " + " ".join(
        f"WHEN month = {m} THEN {cum[m - 1]}"
        for m in range(12, 1, -1)) + " ELSE 0 END"
    dom = "doy - cum_m + 1"
    if feb_clamp == "always":
        dom = f"CASE WHEN month = 2 THEN LEAST({dom}, 28) ELSE {dom} END"
    elif feb_clamp == "nongreg":
        dom = (f"CASE WHEN month = 2 AND {dom} = 29 AND NOT "
               "((year % 4 = 0 AND year % 100 <> 0) OR year % 400 = 0) "
               f"THEN 28 ELSE {dom} END")
    return f"""
        SELECT i,
               make_timestamp(year, month, {dom},
                              day_secs // 3600,
                              (day_secs % 3600) // 60,
                              CAST(day_secs % 60 AS DOUBLE)) AS ts
        FROM (
            SELECT i, year, doy, day_secs, month,
                   {cum_case} AS cum_m
            FROM (
                SELECT i, year, doy, day_secs,
                       {month_case} AS month
                FROM (
                    SELECT i, day_secs,
                           CAST(FLOOR(day / {year_days}) AS INT) AS year,
                           CAST(day - CAST(FLOOR(day / {year_days})
                                AS BIGINT) * {year_days} AS INT) AS doy
                    FROM (
                        SELECT i,
                               CAST(FLOOR(total) AS BIGINT)
                               + CAST(ROUND((total - FLOOR(total))
                                      * 86400.0) AS BIGINT)
                                 // 86400 AS day,
                               CAST(ROUND((total - FLOOR(total))
                                    * 86400.0) AS BIGINT) % 86400
                                 AS day_secs
                        FROM (
                            SELECT i, CAST({ep_days} AS DOUBLE) + v
                                   AS total
                            FROM vals
                        )
                    )
                )
            )
        )
    """


_JULIAN_EP_DAYS = 365 * 1890 + (1890 + 3) // 4  # epoch 1890-01-01

_NOLEAP_CUM_SQL = [0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334]


def _julian_cal_sql() -> str:
    """DuckDB twin of cftime._julian_decode (epoch 1890-01-01): the
    1461-day quadrennium arithmetic with the leap year FIRST, then the
    leap-aware month chain; Feb 29 of Julian-only leap years (1900)
    clamps to the Gregorian 28."""
    cum = _NOLEAP_CUM_SQL
    month_case = "CASE " + " ".join(
        f"WHEN doy >= {cum[m - 1]}" + (" + lp" if m > 2 else "")
        + f" THEN {m}"
        for m in range(12, 1, -1)) + " ELSE 1 END"
    cum_case = "CASE " + " ".join(
        f"WHEN month = {m} THEN {cum[m - 1]}"
        + (" + lp" if m > 2 else "")
        for m in range(12, 1, -1)) + " ELSE 0 END"
    return f"""
        SELECT i,
               make_timestamp(year, month,
                   CASE WHEN month = 2 AND doy - cum_m + 1 = 29
                             AND NOT ((year % 4 = 0 AND year % 100 <> 0)
                                      OR year % 400 = 0)
                        THEN 28 ELSE doy - cum_m + 1 END,
                   day_secs // 3600, (day_secs % 3600) // 60,
                   CAST(day_secs % 60 AS DOUBLE)) AS ts
        FROM (
            SELECT i, year, doy, lp, day_secs, month,
                   {cum_case} AS cum_m
            FROM (
                SELECT i, year, doy, lp, day_secs,
                       {month_case} AS month
                FROM (
                    SELECT i, day_secs,
                           CAST(quad * 4 + a AS INT) AS year,
                           CASE WHEN a = 0 THEN r
                                ELSE r - 366 - (a - 1) * 365 END AS doy,
                           CASE WHEN a = 0 THEN 1 ELSE 0 END AS lp
                    FROM (
                        SELECT i, day_secs, quad, r,
                               CASE WHEN r < 366 THEN 0
                                    ELSE 1 + CAST(FLOOR((r - 366) / 365)
                                             AS INT) END AS a
                        FROM (
                            SELECT i, day_secs,
                                   CAST(FLOOR(day / 1461) AS BIGINT)
                                       AS quad,
                                   CAST(day - CAST(FLOOR(day / 1461)
                                        AS BIGINT) * 1461 AS INT) AS r
                            FROM (
                                SELECT i,
                                       CAST(FLOOR(total) AS BIGINT)
                                       + CAST(ROUND((total - FLOOR(total))
                                         * 86400.0) AS BIGINT)
                                         // 86400 AS day,
                                       CAST(ROUND((total - FLOOR(total))
                                            * 86400.0) AS BIGINT)
                                         % 86400 AS day_secs
                                FROM (
                                    SELECT i,
                                           CAST({_JULIAN_EP_DAYS}
                                                AS DOUBLE) + v AS total
                                    FROM vals
                                )
                            )
                        )
                    )
                )
            )
        )
    """


_CFTIME_SQL = f"""
    WITH vals AS (
        SELECT range AS i, range * 37.25 + 11.0 AS v
        FROM range(600)
    ), nl AS ({_fixed_cal_sql(2000 * 365, 365, _NOLEAP_CUM_SQL, None)}),
    d360 AS ({_fixed_cal_sql(2000 * 360, 360,
                             [30 * i for i in range(12)], "always")}),
    al AS ({_fixed_cal_sql(
        2000 * 366, 366,
        [0, 31, 60, 91, 121, 152, 182, 213, 244, 274, 305, 335],
        "nongreg")}),
    jul AS ({_julian_cal_sql()})
    SELECT nl.i, nl.ts AS t_noleap, d360.ts AS t_360day,
           al.ts AS t_allleap, jul.ts AS t_julian
    FROM nl JOIN d360 ON nl.i = d360.i
            JOIN al ON nl.i = al.i
            JOIN jul ON nl.i = jul.i
"""


@query("cube_cftime_decode", sql=_CFTIME_SQL)
def cube_cftime_decode(spark, sf_dir):
    """decode_cf_time (functions/cftime.py:64; reference handles
    cftime axes via the cftime package — new.py:142-160,
    select.py:202-213): 600 quarter-day time values decode through
    all four non-standard CF calendars at once — noleap / 360_day
    (Feb 29/30 clamp) / all_leap (Feb 29 clamp outside Gregorian leap
    years) / julian (1890 epoch so the 1900 Julian-only leap year is
    in range).  All dyadic-exact Column arithmetic; the oracle
    restates the same floor/carry/CASE chains."""
    from xcube_spark.functions.cftime import decode_cf_time_staged

    vals = spark.range(600).select(
        F.col("id").alias("i"),
        (F.col("id") * F.lit(37.25) + F.lit(11.0)).alias("v"))
    # staged decode (r13): the 4-calendar Column projection totalled
    # ~10^3 expression nodes per timestamp (day/doy/month subtrees
    # re-inlined at every reference) and paid a multi-second one-time
    # codegen compile; the staged form writes each subtree once as a
    # named column — same arithmetic, bit-identical output (pinned in
    # tests/test_opt_r13.py)
    out = vals
    out = decode_cf_time_staged(out, "v", "t_noleap",
                                "days since 2000-01-01", "noleap")
    out = decode_cf_time_staged(out, "v", "t_360day",
                                "days since 2000-01-01", "360_day")
    out = decode_cf_time_staged(out, "v", "t_allleap",
                                "days since 2000-01-01", "all_leap")
    out = decode_cf_time_staged(out, "v", "t_julian",
                                "days since 1890-01-01", "julian")
    return out.select("i", "t_noleap", "t_360day", "t_allleap",
                      "t_julian")
