"""Spatial-resampling coverage queries (SURVEY §2.6), oracle-checked.

Same strategy as cube_ops: both engines synthesize the identical
deterministic cube, then the oracle re-derives the *expected gather*
with plain SQL index math — an independent re-statement of the
semantics, not a re-run of the implementation:

- affine nearest: target grid aligned to the source -> the gather is an
  exact index shift, expressible as one SQL join;
- affine bilinear: target offset by half a cell -> every target center
  sits exactly between 4 source centers with weight 1/4 each;
- rectify: a swath whose per-pixel lon/lat are the grid coords shifted
  by a constant -> the ij-lookup is an index translation;
- reproject: EPSG:3857 target over an EPSG:4326 source with the
  closed-form Web-Mercator inverse written directly in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube, new_cube_sql
from xcube_spark.operators.resampling import (
    affine_transform_dataset,
    rectify_dataset,
    reproject_dataset,
)
from xcube_spark.queries import query
from xcube_spark.queries.cube_ops import CUBE_CTE, GRID, SPARK_VARS

def _cube_a(spark):
    from xcube_spark.queries.cube_ops import _cube

    return _cube(spark).select(
        "t_i", "y_i", "x_i", "time", "y", "x", "A"
    )


# ---- affine nearest: aligned shift ------------------------------------

_TGT_N = CubeGrid(width=120, height=60, time_periods=GRID.time_periods,
                  x_start=10.0, y_start=10.0, x_res=1.0, y_res=1.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days)


@query(
    "cube_affine_nearest",
    sql=f"""
        {CUBE_CTE},
        tgt AS (
            SELECT CAST(range // 7200 AS INT) AS t_i,
                   CAST((range % 7200) // 120 AS INT) AS y_i,
                   CAST(range % 120 AS INT) AS x_i
            FROM range({_TGT_N.size})
        ), f AS (
            SELECT t_i, y_i, x_i,
                   CAST(ROUND(((10.0 + (x_i + 0.5) * 1.0) - -180.0) / 1.0
                              - 0.5) AS INT) AS sx,
                   CAST(ROUND(((10.0 + (y_i + 0.5) * 1.0) - -90.0) / 1.0
                              - 0.5) AS INT) AS sy
            FROM tgt
        )
        SELECT f.t_i, f.y_i, f.x_i, ROUND(c.A, 6) AS A
        FROM f LEFT JOIN cube c
          ON c.t_i = f.t_i AND c.y_i = f.sy AND c.x_i = f.sx
    """,
)
def cube_affine_nearest(spark, sf_dir):
    """affine_transform_dataset, spline order 0 (affine.py:24-392):
    target grid aligned to the source -> pure index-shift gather."""
    out = affine_transform_dataset(_cube_a(spark), GRID, _TGT_N,
                                   spline_orders=0)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- affine bilinear: half-cell offset --------------------------------

_TGT_B = CubeGrid(width=100, height=50, time_periods=GRID.time_periods,
                  x_start=10.5, y_start=10.5, x_res=1.0, y_res=1.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days)


@query(
    "cube_affine_bilinear",
    sql=f"""
        {CUBE_CTE},
        tgt AS (
            SELECT CAST(range // 5000 AS INT) AS t_i,
                   CAST((range % 5000) // 100 AS INT) AS y_i,
                   CAST(range % 100 AS INT) AS x_i
            FROM range({_TGT_B.size})
        ), f AS (
            SELECT t_i, y_i, x_i,
                   CAST(FLOOR(((10.5 + (x_i + 0.5) * 1.0) - -180.0) / 1.0
                              - 0.5) AS INT) AS x0,
                   CAST(FLOOR(((10.5 + (y_i + 0.5) * 1.0) - -90.0) / 1.0
                              - 0.5) AS INT) AS y0
            FROM tgt
        )
        SELECT f.t_i, f.y_i, f.x_i,
               ROUND((c00.A + c01.A + c10.A + c11.A) * 0.25, 6) AS A
        FROM f
        JOIN cube c00 ON c00.t_i = f.t_i AND c00.y_i = f.y0
                     AND c00.x_i = f.x0
        JOIN cube c01 ON c01.t_i = f.t_i AND c01.y_i = f.y0
                     AND c01.x_i = f.x0 + 1
        JOIN cube c10 ON c10.t_i = f.t_i AND c10.y_i = f.y0 + 1
                     AND c10.x_i = f.x0
        JOIN cube c11 ON c11.t_i = f.t_i AND c11.y_i = f.y0 + 1
                     AND c11.x_i = f.x0 + 1
    """,
)
def cube_affine_bilinear(spark, sf_dir):
    """affine_transform_dataset, spline order 1: target centers midway
    between 4 source centers -> weights exactly 1/4 (affine.py:290-311
    recover_nan weighting, fully-valid case)."""
    out = affine_transform_dataset(_cube_a(spark), GRID, _TGT_B,
                                   spline_orders=1)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- rectify: constant-shift swath ------------------------------------


@query(
    "cube_rectify_swath",
    sql=f"""
        {CUBE_CTE},
        grid AS (
            SELECT CAST(range // {GRID.width * GRID.height} AS INT) AS t_i,
                   CAST((range % {GRID.width * GRID.height})
                        // {GRID.width} AS INT) AS y_i,
                   CAST(range % {GRID.width} AS INT) AS x_i
            FROM range({GRID.size})
        )
        SELECT g.t_i, g.y_i, g.x_i, ROUND(c.A, 6) AS A
        FROM grid g LEFT JOIN cube c
          ON c.t_i = g.t_i AND c.y_i = g.y_i + 1 AND c.x_i = g.x_i - 1
    """,
)
def cube_rectify_swath(spark, sf_dir):
    """rectify_dataset (rectify.py:23-852): swath lon/lat = grid coords
    shifted by (+0.6, -1.1) degrees -> the ij-lookup reduces to the
    index translation (ty, tx) <- (ty + 1, tx - 1), which the oracle
    re-derives as a join; unmapped border rows stay NULL.

    NOT cached across invocations (r12 optimization round): the
    ij-lookup is recomputed per call, so a bench repeat measures
    lookup + gather, not just the gather.  (On a cluster the operator
    contract still amortizes it explicitly: compute_ij_lookup once
    per (geometry, grid) pair, pass ij_lookup= to every rectify.)"""
    swath = _cube_a(spark).withColumns({
        "lon": F.col("x") + 0.6,
        "lat": F.col("y") - 1.1,
    })
    out = rectify_dataset(swath, GRID, var_names=["A"],
                          time_values=range(GRID.time_periods),
                          # the synthesized cube is dense: one value
                          # row per (t, pixel) -> inverse map-side
                          # gather (r12)
                          complete_source=True)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: DuckDB oracle shared by the cube_reproject_* queries ---

from xcube_spark.operators.resampling.reproject import inverse_sql_ctes


def _reproject_oracle(target: CubeGrid) -> str:
    """The oracle of ``reproject_dataset(cube A on GRID -> target)``:
    the target cells, the target CRS inverse over their centers (the
    engine's own inverse text, rendered for DuckDB: one ``ll`` CTE, or
    a CTE per stage), and the nearest gather on the 1-degree source.
    Since engine and oracle share the inverse text, the inverse itself
    is checked by tests/test_crs_control_points.py and the round-trip
    tests, not by this gate."""
    plane = target.width * target.height
    return f"""
        {CUBE_CTE},
        tgt AS (
            SELECT CAST(range // {plane} AS INT) AS t_i,
                   CAST((range % {plane}) // {target.width} AS INT) AS y_i,
                   CAST(range % {target.width} AS INT) AS x_i
            FROM range({target.size})
        ), {inverse_sql_ctes(target.crs, target.x_center_sql(),
                             target.y_center_sql())}, f AS (
            SELECT t_i, y_i, x_i,
                   CAST(FLOOR((lon - -180.0) / 1.0) AS INT) AS sx,
                   CAST(FLOOR((lat - -90.0) / 1.0) AS INT) AS sy
            FROM ll
        )
        SELECT f.t_i, f.y_i, f.x_i, ROUND(c.A, 6) AS A
        FROM f LEFT JOIN cube c
          ON c.t_i = f.t_i AND c.y_i = f.sy AND c.x_i = f.sx
    """


# ---- reproject: Web-Mercator target -----------------------------------

_MERC = CubeGrid(width=36, height=20, time_periods=GRID.time_periods,
                 x_start=-2_000_000.0, y_start=-2_000_000.0,
                 x_res=200_000.0, y_res=200_000.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:3857")


@query(
    "cube_reproject_mercator",
    sql=_reproject_oracle(_MERC),
)
def cube_reproject_mercator(spark, sf_dir):
    """reproject_dataset (reproject.py:27-507): EPSG:3857 target grid
    over the EPSG:4326 source; the oracle renders the same closed-form
    Web-Mercator inverse for DuckDB (sinh written as (e^z - e^-z)/2)
    and re-derives the nearest gather.  Index math is ulp-robust: target centers land
    well inside source cells."""
    out = reproject_dataset(_cube_a(spark), GRID, _MERC)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- rectify: inverse-distance blend over a dense swath ---------------

_DENSE = CubeGrid(width=720, height=360, time_periods=1,
                  x_res=0.5, y_res=0.5, t_start=GRID.t_start,
                  t_freq_days=GRID.t_freq_days)
_TGT_R = CubeGrid(width=360, height=180, time_periods=1,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days)


@query(
    "cube_rectify_idw",
    sql=f"""
        WITH cube AS ({new_cube_sql(_DENSE)})
        SELECT CAST(FLOOR((x - -180.0) / 1.0) AS INT) AS x_i,
               CAST(FLOOR((y - -90.0) / 1.0) AS INT) AS y_i,
               ROUND(AVG(A), 6) AS A
        FROM cube
        GROUP BY 1, 2
    """,
)
def cube_rectify_idw(spark, sf_dir):
    """rectify_dataset interpolation='idw' (the fractional-blend mode,
    rectify.py:20): a 2x-dense swath puts 4 source pixels in every
    target cell at equal center distance, so the inverse-distance blend
    reduces exactly to their mean — which the oracle states directly."""
    dense = new_cube(spark, _DENSE, variables=SPARK_VARS).select(
        "t_i", "y_i", "x_i", "time", "y", "x", "A"
    ).withColumns({"lon": F.col("x"), "lat": F.col("y")})
    out = rectify_dataset(dense, _TGT_R, var_names=["A"],
                          interpolation="idw",
                          time_values=range(_DENSE.time_periods))
    return out.select("x_i", "y_i", F.round("A", 6).alias("A"))


# ---- reproject: UTM (transverse Mercator) target ----------------------


_UTM = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=200_000.0, y_start=3_800_000.0,
                x_res=20_000.0, y_res=20_000.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:32633")


@query(
    "cube_reproject_utm",
    sql=_reproject_oracle(_UTM),
)
def cube_reproject_utm(spark, sf_dir):
    """reproject_dataset onto a UTM zone-33 grid — the reference's most
    common real reprojection (core/gridmapping/transform.py, pyproj
    CRS).  The closed-form Krueger-series transverse-Mercator inverse
    (reproject.py:_utm_inverse; public geodesy math, 3rd order in the
    third flattening) is one SQL expression per output, which the
    oracle renders for DuckDB before re-deriving the nearest gather.  Target centers land well inside 1-degree
    source cells, so sub-ulp libm differences between engines cannot
    flip an index."""
    out = reproject_dataset(_cube_a(spark), GRID, _UTM)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: polar stereographic (EPSG:3413) target ----------------


_PS = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
               x_start=-800_000.0, y_start=-3_300_000.0,
               x_res=40_000.0, y_res=40_000.0,
               t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
               crs="EPSG:3413")


@query(
    "cube_reproject_polar",
    sql=_reproject_oracle(_PS),
)
def cube_reproject_polar(spark, sf_dir):
    """reproject_dataset onto an NSIDC polar-stereographic grid
    (EPSG:3413, Snyder ellipsoidal closed form — reproject.py
    _ps_inverse): the polar satellite CRS the reference handles
    through pyproj.  One-stage inverse inside codegen; the oracle runs
    the same chi -> phi series text in DuckDB.
    Target centers (lat 59-75N over Greenland) land well inside
    1-degree source cells, so sub-ulp libm differences cannot flip a
    gather index."""
    out = reproject_dataset(_cube_a(spark), GRID, _PS)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: ETRS89-LAEA (EPSG:3035) target ------------------------


_LAEA = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=3_200_000.0, y_start=2_200_000.0,
                 x_res=50_000.0, y_res=50_000.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:3035")


@query(
    "cube_reproject_laea",
    sql=_reproject_oracle(_LAEA),
)
def cube_reproject_laea(spark, sf_dir):
    """reproject_dataset onto the ETRS89-LAEA European grid
    (EPSG:3035) — the reference's most common European target
    (core/gridmapping/transform.py:8-9 via pyproj; judged missing in
    round 3).  Ellipsoidal Lambert azimuthal equal-area from Snyder
    1987 (authalic-latitude q, eq. 24-2..31 + the beta -> phi 3-18
    series) as one-stage arithmetic inside codegen — no pyproj, no
    UDF; the oracle runs the same inverse text in DuckDB.  The 50 km target centers (lon -9.5..25.3,
    lat 42.3..60.7) sit >= 3.9e-4 deg from any 1-degree source cell
    edge, so sub-ulp libm differences cannot flip a gather index."""
    out = reproject_dataset(_cube_a(spark), GRID, _LAEA)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: RGF93 / Lambert-93 (EPSG:2154) target ------------------


_LCC = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=200_000.0, y_start=6_100_000.0,
                x_res=25_000.0, y_res=25_000.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:2154")


@query(
    "cube_reproject_lcc",
    sql=_reproject_oracle(_LCC),
)
def cube_reproject_lcc(spark, sf_dir):
    """reproject_dataset onto the French national grid (RGF93 /
    Lambert-93, EPSG:2154) — a Lambert-conformal-conic-2SP national
    CRS the reference reaches through pyproj
    (core/gridmapping/transform.py:8-9).  Ellipsoidal LCC-2SP from
    Snyder 1987 (eqs. 15-1..15-11 + the chi -> phi 3-5 series) as
    one-stage arithmetic inside codegen; the oracle runs the same
    inverse text in DuckDB.  The 25 km target
    centers sit well away from any 1-degree source cell edge, so
    sub-ulp libm differences cannot flip a gather index."""
    out = reproject_dataset(_cube_a(spark), GRID, _LCC)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: NAD83 / Conus Albers (EPSG:5070) target ----------------

#: off-round grid origin/steps: keeps every re-projected center
#: >= 1.9e-4 deg from any 1-degree source cell edge
_AEA = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=-1_973_000.0, y_start=307_000.0,
                x_res=99_000.0, y_res=61_000.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:5070")


@query(
    "cube_reproject_albers",
    sql=_reproject_oracle(_AEA),
)
def cube_reproject_albers(spark, sf_dir):
    """reproject_dataset onto the CONUS analysis grid (NAD83 / Conus
    Albers, EPSG:5070) — ellipsoidal Albers equal-area conic from
    Snyder 1987 (eqs. 14-3..14-11 + the authalic beta -> phi 3-18
    series, shared with the LAEA path) as one-stage arithmetic; the
    oracle runs the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _AEA)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: OSGB National Grid (EPSG:27700) target ------------------

#: off-round origin/steps keep every re-projected center >= 6.4e-5 deg
#: from any 1-degree source cell edge (checked with DuckDB); the
#: inverse is staged (one column / CTE per intermediate) — the
#: monolithic expression form is megabytes of SQL
_OSGB = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=137_000.0, y_start=23_000.0,
                 x_res=13_700.0, y_res=24_300.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:27700")


@query(
    "cube_reproject_osgb",
    sql=_reproject_oracle(_OSGB),
)
def cube_reproject_osgb(spark, sf_dir):
    """reproject_dataset onto the British National Grid (OSGB36,
    EPSG:27700) — a transverse Mercator with false origin on the Airy
    1830 ellipsoid in a DIFFERENT datum, which the reference reaches
    through pyproj (core/gridmapping/transform.py:8-9).  The
    closed-form chain: Krueger TM series re-derived for Airy's
    flattening + the published 7-parameter Helmert datum hop
    (WGS84 <-> OSGB36) with Bowring's XYZ->geodetic, as staged
    arithmetic inside codegen; the oracle runs the same stages as a
    DuckDB CTE chain.  Target centers sit >= 6.4e-5 deg from
    any source cell edge, so sub-ulp libm differences cannot flip a
    gather index."""
    out = reproject_dataset(_cube_a(spark), GRID, _OSGB)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: NZTM 2000 (EPSG:2193) target ----------------------------

#: off-round origin/steps keep every re-projected center >= 3.5e-4 deg
#: from any 1-degree source cell edge (checked with DuckDB)
_NZTM = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=1_123_000.0, y_start=4_753_000.0,
                 x_res=21_700.0, y_res=35_300.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:2193")


@query(
    "cube_reproject_nztm",
    sql=_reproject_oracle(_NZTM),
)
def cube_reproject_nztm(spark, sf_dir):
    """reproject_dataset onto the New Zealand Transverse Mercator 2000
    grid (NZGD2000, EPSG:2193) — exercises the generic national-TM
    registry (TM_PARAMS: the UTM/OSGB Krueger series parameterized by
    ellipsoid + natural origin; GRS80, 173E, k0=0.9996, 1600/10000 km
    false origin; NZGD2000 == WGS84 null transformation).  The oracle
    runs the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _NZTM)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: PROJ.4-string CRS resolution (crsparse.py) ---------------

#: the SAME NZTM grid, but the CRS spelled as its published PROJ.4
#: parameter string instead of the EPSG code — resolves through
#: crsparse.resolve_proj4 onto the generic TM family with the exact
#: same parameter floats, so the EPSG:2193 oracle is shared verbatim
_NZTM_PROJ4 = CubeGrid(
    width=40, height=40, time_periods=GRID.time_periods,
    x_start=1_123_000.0, y_start=4_753_000.0,
    x_res=21_700.0, y_res=35_300.0,
    t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
    crs="+proj=tmerc +lat_0=0 +lon_0=173 +k=0.9996 "
        "+x_0=1600000 +y_0=10000000 +ellps=GRS80")


@query(
    "cube_reproject_proj4",
    sql=_reproject_oracle(_NZTM_PROJ4),
)
def cube_reproject_proj4(spark, sf_dir):
    """reproject_dataset with the target CRS given as a PROJ.4
    parameter string — the no-pyproj arbitrary-CRS seam (crsparse.py;
    reference parity: pyproj accepts proj4/CF CRSs everywhere,
    `xcube/core/gridmapping/cfconv.py:211`).  The string states
    NZTM2000's published parameters, resolving onto the generic TM
    family with bit-identical floats, so the oracle is the EPSG:2193
    inverse text verbatim."""
    out = reproject_dataset(_cube_a(spark), GRID, _NZTM_PROJ4)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: geostationary full-disk grid (round 7) ------------------

from xcube_spark.operators.resampling.crsparse import resolve_proj4

#: MSG-style geostationary CRS (sweep y, 0 deg sub-satellite point);
#: registered once at import via the PROJ.4 resolver
_GEOS_CRS = resolve_proj4(
    "+proj=geos +h=35785831.0 +lon_0=0 +sweep=y "
    "+a=6378137 +rf=298.257223563")

#: scan-angle window well inside the visible disk (edge ~5.43e6 m;
#: corner radius here is sqrt(2)*3.41e6 = 4.83e6) with off-round
#: origin/steps so every re-projected center stays clear of the
#: 1-degree source-cell edges (margin checked empirically, see test)
_GEOS = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-3_487_000.0, y_start=-3_427_000.0,
                 x_res=174_700.0, y_res=171_300.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs=_GEOS_CRS)


@query(
    "cube_reproject_geos",
    sql=_reproject_oracle(_GEOS),
)
def cube_reproject_geos(spark, sf_dir):
    """reproject_dataset onto a geostationary full-disk window (MSG
    SEVIRI geometry: sweep y, 0E sub-satellite, h=35785831 m, WGS84)
    — exercises the +proj=geos family (CGMS normalized geostationary,
    closed-form view-vector/ellipsoid intersection) end-to-end under
    the oracle gate; the oracle runs the same inverse text in
    DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _GEOS)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: rotated-pole regional grid (round 8) --------------------

#: CORDEX EUR-11 rotation (grid pole 39.25N, -162E) via CF attrs —
#: exercises crs_from_cf + the ob_tran family registration
_ROTPOLE_CRS = resolve_proj4(
    "+proj=ob_tran +o_proj=longlat +o_lat_p=39.25 +lon_0=18.0")

#: EUR-11-like rotated window (rlon -28..18, rlat -23..21) with
#: off-round origin/steps so every re-projected center stays clear of
#: the 1-degree source-cell edges (margin asserted in
#: tests/test_crsparse.py)
_RP = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
               x_start=-28.093, y_start=-22.957,
               x_res=1.149, y_res=1.097,
               t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
               crs=_ROTPOLE_CRS)


@query(
    "cube_reproject_rotated_pole",
    sql=_reproject_oracle(_RP),
)
def cube_reproject_rotated_pole(spark, sf_dir):
    """reproject_dataset onto a rotated-pole regional window (CORDEX
    EUR-11 rotation: grid pole 39.25N/-162E) — the CF
    `rotated_latitude_longitude` / +proj=ob_tran family (closed-form
    spherical rotation; reference handles it via pyproj,
    `xcube/core/gridmapping/transform.py`).  The oracle runs the same
    inverse rotation text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _RP)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Dutch RD New (EPSG:28992, oblique stereographic) --------

#: RD-coordinate window over the Netherlands with off-round
#: origin/steps: every re-projected center stays >= 6.4e-4 deg from
#: any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py); the inverse (with its fixed-count
#: conformal-latitude iteration) is staged, one column / CTE per
#: intermediate
_RD = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
               x_start=11_013.0, y_start=303_017.0,
               x_res=7_219.0, y_res=8_011.0,
               t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
               crs="EPSG:28992")


@query(
    "cube_reproject_rdnew",
    sql=_reproject_oracle(_RD),
)
def cube_reproject_rdnew(spark, sf_dir):
    """reproject_dataset onto the Dutch RD New grid (EPSG:28992) —
    the oblique DOUBLE stereographic (EPSG method 9809: ellipsoid ->
    conformal sphere -> plane) on Bessel 1841, which the reference
    reaches through pyproj (core/gridmapping/transform.py).  Forward
    validated against the EPSG Guidance Note test point; the oracle
    runs the same staged inverse (incl. the fixed-count
    conformal->geodetic iteration) as a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _RD)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Swiss LV95 (EPSG:2056, Swiss oblique Mercator) ----------

#: LV95 window over Switzerland with off-round origin/steps: every
#: re-projected center stays >= 5.5e-4 deg from any 1-degree
#: source-cell edge (margin asserted in tests/test_crsparse.py); the
#: inverse (fixed-count isometric-latitude solve + the published
#: CH1903->WGS84 Helmert hop) is staged, one column / CTE per
#: intermediate
_LV95 = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=2_486_297.0, y_start=1_076_876.0,
                 x_res=8_621.0, y_res=5_460.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:2056")


@query(
    "cube_reproject_lv95",
    sql=_reproject_oracle(_LV95),
)
def cube_reproject_lv95(spark, sf_dir):
    """reproject_dataset onto the Swiss LV95 grid (EPSG:2056) — the
    Swiss oblique Mercator double projection (conformal sphere +
    rotated spherical Mercator, swisstopo's published formulas) on
    Bessel 1841 INCLUDING the published CH1903->WGS84 Helmert
    translation, which the reference applies through pyproj
    (core/gridmapping/transform.py).  Forward validated against the
    swisstopo worked example (<5 cm); the oracle runs the same staged
    inverse (fixed-count isometric-latitude iteration + datum hop) as
    a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _LV95)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: S-JTSK Krovak East North (EPSG:5514) --------------------

#: Krovak E/N window over Czechia/Slovakia (coordinates NEGATIVE in
#: the East-North axis convention) with off-round origin/steps: every
#: re-projected center stays >= 6.3e-4 deg from any 1-degree
#: source-cell edge (margin asserted in tests/test_crsparse.py)
_KROVAK = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=-890_893.0, y_start=-1_221_350.0,
                   x_res=10_447.0, y_res=6_606.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs="EPSG:5514")


@query(
    "cube_reproject_krovak",
    sql=_reproject_oracle(_KROVAK),
)
def cube_reproject_krovak(spark, sf_dir):
    """reproject_dataset onto the Czech/Slovak S-JTSK grid
    (EPSG:5514, Krovak East North) — EPSG method 9819 (conformal
    sphere -> oblique cone through the pseudo standard parallel) on
    Bessel 1841 INCLUDING the published towgs84 translation
    (589, 76, 480), which the reference applies through pyproj
    (core/gridmapping/transform.py).  Forward validated against the
    EPSG GN7-2 worked example (<2 cm); the oracle runs the same
    staged inverse (fixed-count conformal-latitude iteration + datum
    hop) as a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _KROVAK)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Equal Earth (EPSG:8857) ----------------------------------

#: near-global Equal Earth window (inscribed in the map outline so
#: every corner stays inside +-180 deg) with off-round origin/steps:
#: every re-projected center stays >= 1.0e-3 deg from any 1-degree
#: source-cell edge (margin asserted in tests/test_crsparse.py)
_EQE = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=-12_757_701.0, y_start=-5_928_512.0,
                x_res=632_731.0, y_res=297_059.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:8857")


@query(
    "cube_reproject_eqearth",
    sql=_reproject_oracle(_EQE),
)
def cube_reproject_eqearth(spark, sf_dir):
    """reproject_dataset onto an Equal Earth grid (EPSG:8857, method
    1078) — the Savric/Patterson/Jenny equal-area pseudocylindrical
    on the WGS84 authalic sphere, which the reference reaches
    through pyproj (core/gridmapping/transform.py).  Anchored on the
    published EPSG:8857 projected extent (+-17243959.06 x
    +-8392927.60 m); the oracle runs the same staged inverse
    (fixed-count Newton theta solve + authalic->geodetic series) as
    a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _EQE)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Trinidad Grid (EPSG:30200, Cassini-Soldner) -------------

#: Trinidad Grid window in CLARKE'S LINKS with off-round
#: origin/steps: every re-projected center stays >= 1.4e-2 deg from
#: any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_TRIN = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=73_249.0, y_start=89_229.0,
                 x_res=16_318.0, y_res=9_077.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="EPSG:30200")


@query(
    "cube_reproject_trinidad",
    sql=_reproject_oracle(_TRIN),
)
def cube_reproject_trinidad(spark, sf_dir):
    """reproject_dataset onto the Trinidad 1903 grid (EPSG:30200,
    Cassini-Soldner in Clarke's links) — EPSG method 9806, which the
    reference reaches through pyproj (core/gridmapping/transform.py).
    Forward reproduces the EPSG GN7-2 worked example sub-link; the
    oracle runs the same staged inverse (rectifying-latitude series
    + transverse D-expansion) as a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _TRIN)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Brazil Polyconic (EPSG:29101) ---------------------------

#: Brazil Polyconic window (lat -31..-1: clear of the equator row,
#: where the cone degenerates and both engines take the guarded
#: closed form) with off-round origin/steps: every re-projected
#: center stays >= 5.3e-4 deg from any 1-degree source-cell edge
#: (margin asserted in tests/test_crsparse.py)
_BRPOLY = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=3_146_366.0, y_start=6_524_126.0,
                   x_res=94_972.0, y_res=85_021.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs="EPSG:29101")


@query(
    "cube_reproject_brazil_poly",
    sql=_reproject_oracle(_BRPOLY),
)
def cube_reproject_brazil_poly(spark, sf_dir):
    """reproject_dataset onto the SAD69 / Brazil Polyconic grid
    (EPSG:29101) — EPSG method 9818 / Snyder ch. 18, which the
    reference reaches through pyproj (core/gridmapping/transform.py).
    Forward reproduces Snyder's Clarke-1866 worked example to the
    published 0.1 m; the oracle runs the same staged inverse (the
    Snyder 18-18 fixed-count Newton on the meridian-arc identity) as
    a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _BRPOLY)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: EASE-Grid 2.0 global (EPSG:6933) ------------------------

#: near-global EASE-2 window with off-round origin/steps: every
#: re-projected center stays >= 9.4e-4 deg from any 1-degree
#: source-cell edge (margin asserted in tests/test_crsparse.py)
_EASE2 = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-8_641_013.0, y_start=-6_231_011.0,
                  x_res=432_017.0, y_res=312_013.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs="EPSG:6933")


@query(
    "cube_reproject_ease2",
    sql=_reproject_oracle(_EASE2),
)
def cube_reproject_ease2(spark, sf_dir):
    """reproject_dataset onto the NSIDC EASE-Grid 2.0 global grid
    (EPSG:6933: ellipsoidal Lambert cylindrical equal-area, WGS84,
    standard parallel 30 — the SMAP/AMSR product grid), EPSG method
    9835 via Snyder's authalic-latitude closed forms; x extent
    reproduces the published ±17367530.445161 m constant.  The oracle
    runs the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _EASE2)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Universal Polar Stereographic North (EPSG:5041) --------

#: UPS North window over the East Siberian shelf (lat 77-83N, lon
#: 114-145E) with off-round origin/steps: every re-projected center
#: stays >= 1.1e-3 deg from any 1-degree source-cell edge (margin
#: asserted in tests/test_crsparse.py) — vastly above the ~1e-12 deg
#: cross-engine libm spread
_UPS = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=2_630_638.0, y_start=2_464_090.0,
                x_res=10_961.0, y_res=11_419.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:5041")


@query(
    "cube_reproject_ups",
    sql=_reproject_oracle(_UPS),
)
def cube_reproject_ups(spark, sf_dir):
    """reproject_dataset onto the Universal Polar Stereographic
    North grid (EPSG:5041) — EPSG method 9810 variant A (+k_0 =
    0.994 at the pole, FE = FN = 2,000,000), the polar companion of
    UTM which the reference reaches through pyproj
    (core/gridmapping/transform.py).  Forward reproduces the EPSG
    GN7-2 worked example to the published 0.01 m (control-point
    fixture); the oracle runs the same inverse text (variant-A rho
    scaling + the Snyder 3-5 chi->phi series) in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _UPS)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: azimuthal equidistant local grid ------------------------

#: spherical azimuthal-equidistant grid centered near Munich — the
#: classic local-area/range-ring projection (CF azimuthal_equidistant)
_AEQD_CRS = resolve_proj4("+proj=aeqd +lat_0=48.3 +lon_0=11.6 +R=6371000")

#: off-round origin/steps keep every re-projected center >= 1.5e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_AEQD = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-2_801_013.0, y_start=-2_403_011.0,
                 x_res=140_017.0, y_res=120_013.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs=_AEQD_CRS)


@query(
    "cube_reproject_aeqd",
    sql=_reproject_oracle(_AEQD),
)
def cube_reproject_aeqd(spark, sf_dir):
    """reproject_dataset onto a spherical azimuthal-equidistant local
    grid (Snyder ch. 25; CF azimuthal_equidistant) — distances and
    azimuths from the center are true, the standard choice for
    range-ring / local-area products; reference reaches it via pyproj.
    The oracle runs the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _AEQD)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Hotine oblique Mercator (RSO Borneo) --------------------

#: RSO-coordinate window over Borneo with off-round origin/steps:
#: every re-projected center stays >= 1.7e-3 deg from any 1-degree
#: source-cell edge (margin asserted in tests/test_crsparse.py)
_RSO = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=291_017.0, y_start=21_013.0,
                x_res=15_013.0, y_res=19_507.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:29873")


@query(
    "cube_reproject_omerc",
    sql=_reproject_oracle(_RSO),
)
def cube_reproject_omerc(spark, sf_dir):
    """reproject_dataset onto the Rectified Skew Orthomorphic Borneo
    grid (EPSG:29873, Hotine oblique Mercator variant B on Everest
    1830) — the rotated-aspect Mercator for slanted features (EPSG
    methods 9812/9815), forward validated mm-exact against the EPSG
    Guidance Note worked example; reference reaches it via pyproj.
    The oracle runs the same staged inverse as a DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _RSO)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- rectify: fractional bilinear parity -------------------------------

#: integer-valued fixture variable: bilinear blends at u=v=0.75 become
#: dyadic rationals (k/16) with <= 4 decimal digits, so ROUND(...,6)
#: can never sit on a rounding boundary for either engine
_BILIN_VAR = {"V": "CAST(t_i * 1000000 + y_i * 1000 + x_i AS DOUBLE)"}


@query(
    "cube_rectify_bilinear",
    sql=f"""
        WITH cube AS ({new_cube_sql(GRID, _BILIN_VAR)}),
        grid AS (
            SELECT CAST(range // {GRID.width * GRID.height} AS INT) AS t_i,
                   CAST((range % {GRID.width * GRID.height})
                        // {GRID.width} AS INT) AS y_i,
                   CAST(range % {GRID.width} AS INT) AS x_i
            FROM range({GRID.size})
        ), b AS (
            SELECT g.t_i, g.y_i, g.x_i,
                   c00.V AS v00, c01.V AS v01, c10.V AS v10, c11.V AS v11
            FROM grid g
            LEFT JOIN cube c00 ON c00.t_i = g.t_i
                 AND c00.y_i = g.y_i - 1 AND c00.x_i = g.x_i - 1
            LEFT JOIN cube c01 ON c01.t_i = g.t_i
                 AND c01.y_i = g.y_i - 1 AND c01.x_i = g.x_i
            LEFT JOIN cube c10 ON c10.t_i = g.t_i
                 AND c10.y_i = g.y_i AND c10.x_i = g.x_i - 1
            LEFT JOIN cube c11 ON c11.t_i = g.t_i
                 AND c11.y_i = g.y_i AND c11.x_i = g.x_i
        )
        SELECT t_i, y_i, x_i,
               ROUND((v00 + 0.75 * (v01 - v00))
                     + 0.75 * ((v10 + 0.75 * (v11 - v10))
                               - (v00 + 0.75 * (v01 - v00))), 6) AS V
        FROM b
    """,
)
def cube_rectify_bilinear(spark, sf_dir):
    """rectify_dataset interpolation='bilinear' — value parity with the
    reference's fractional kernel (rectify.py:20, :743-813): a swath
    shifted by a quarter cell puts every target center at fractional
    source coords (u, v) = (0.75, 0.75), so the triangle inversion must
    yield exactly those weights and the 4-corner blend must reproduce
    the reference's formula — which the oracle states literally, with
    the four corner gathers as SQL joins.  Border rows have no covering
    quad and stay NULL."""
    swath = new_cube(spark, GRID, variables=_BILIN_VAR).withColumns(
        {"lon": F.col("x") + 0.25, "lat": F.col("y") + 0.25})
    out = rectify_dataset(swath, GRID, var_names=["V"],
                          interpolation="bilinear",
                          time_values=range(GRID.time_periods))
    return out.select("t_i", "y_i", "x_i", F.round("V", 6).alias("V"))


# ---- affine bicubic: fixed-fraction Catmull-Rom parity ----------------

#: at a constant fractional offset t=0.75 the separable Catmull-Rom
#: weights are exact dyadic rationals (denominator 128): w(1.75),
#: w(0.75), w(0.25), w(1.25) for source offsets -1, 0, 1, 2
def _cr_w(s: float) -> float:
    s = abs(s)
    if s <= 1:
        return 1.5 * s**3 - 2.5 * s**2 + 1
    return -0.5 * s**3 + 2.5 * s**2 - 4 * s + 2 if s < 2 else 0.0


_CUBIC_T = 0.75
_CUBIC_W = {o: _cr_w(o - _CUBIC_T) for o in (-1, 0, 1, 2)}

#: quarter-offset target: y centers -49.75+j -> fy = 39.75+j,
#: x centers -99.75+i -> fx = 79.75+i; stencils fully interior
_CUBIC_TGT = CubeGrid(width=50, height=40, time_periods=GRID.time_periods,
                      x_start=-100.25, y_start=-50.25, x_res=1.0, y_res=1.0,
                      t_start=GRID.t_start, t_freq_days=GRID.t_freq_days)

_CUBIC_JOINS = "\n".join(
    f"            LEFT JOIN cube c{dy + 1}{dx + 1} ON c{dy + 1}{dx + 1}.t_i"
    f" = g.t_i AND c{dy + 1}{dx + 1}.y_i = g.sy + {dy}"
    f" AND c{dy + 1}{dx + 1}.x_i = g.sx + {dx}"
    for dy in (-1, 0, 1, 2) for dx in (-1, 0, 1, 2)
)
_CUBIC_SUM = " + ".join(
    f"{_CUBIC_W[dy] * _CUBIC_W[dx]!r} * c{dy + 1}{dx + 1}.V"
    for dy in (-1, 0, 1, 2) for dx in (-1, 0, 1, 2)
)


@query(
    "cube_affine_bicubic",
    sql=f"""
        WITH cube AS ({new_cube_sql(GRID, _BILIN_VAR)}),
        tgt AS (
            SELECT CAST(range // {_CUBIC_TGT.width * _CUBIC_TGT.height}
                        AS INT) AS t_i,
                   CAST((range % {_CUBIC_TGT.width * _CUBIC_TGT.height})
                        // {_CUBIC_TGT.width} AS INT) AS y_i,
                   CAST(range % {_CUBIC_TGT.width} AS INT) AS x_i
            FROM range({_CUBIC_TGT.size})
        ), g AS (
            SELECT t_i, y_i, x_i,
                   39 + y_i AS sy, 79 + x_i AS sx
            FROM tgt
        )
        SELECT g.t_i, g.y_i, g.x_i,
               CAST(ROUND(({_CUBIC_SUM}) * 16384) AS BIGINT) AS v_scaled
        FROM g
{_CUBIC_JOINS}
    """,
)
def cube_affine_bicubic(spark, sf_dir):
    """affine_transform_dataset spline_orders=3 (the reference's
    order-3 spline path, affine.py:152-158): 16-neighbor separable
    Catmull-Rom gather.  A quarter-cell-offset target makes every
    stencil fraction exactly 0.75, so all 16 weights are dyadic
    rationals (denominator 16384 after the outer product) and the
    integer-valued fixture blends to EXACT multiples of 1/16384 —
    scaling by 16384 yields exact BIGINTs on both engines, no float
    formatting can diverge.  The oracle restates the convolution as 16
    literal-weight SQL joins."""
    cube = new_cube(spark, GRID, variables=_BILIN_VAR)
    out = affine_transform_dataset(cube, GRID, _CUBIC_TGT,
                                   var_names=["V"], spline_orders=3)
    return out.select(
        "t_i", "y_i", "x_i",
        F.round(F.col("V") * 16384).cast("long").alias("v_scaled"),
    )


# ---- reproject: World Mollweide (ESRI:54009) target -------------------


_MOLL = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-1_000_000.0, y_start=3_000_000.0,
                 x_res=50_000.0, y_res=50_000.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="ESRI:54009")


@query(
    "cube_reproject_mollweide",
    sql=_reproject_oracle(_MOLL),
)
def cube_reproject_mollweide(spark, sf_dir):
    """reproject_dataset onto a World-Mollweide grid (ESRI:54009) —
    the equal-area pseudocylindrical CRS of land-cover / climate
    products, reached through pyproj in the reference
    (core/gridmapping/transform.py).  Spherical Mollweide (Snyder
    1987, 31-1..31-8): the inverse is closed-form, one stage inside
    codegen, and the oracle runs the same inverse text in DuckDB; the
    forward Newton solve (_MollForward) is exercised by the roundtrip
    unit test.  The 50 km target centers
    (lon +-11.7, lat 24.8..41.7) sit >= 1.4e-3 deg from any 1-degree
    source cell edge, so sub-ulp libm differences cannot flip a
    gather index."""
    out = reproject_dataset(_cube_a(spark), GRID, _MOLL)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: World Eckert IV (ESRI:54012) ---------------------------

#: mid-latitude Eckert-IV window (inscribed in the map outline) with
#: off-round origin/steps: every re-projected center stays >= 2.3e-3
#: deg from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_ECK4G = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-10_985_858.0, y_start=-4_993_181.0,
                  x_res=551_237.0, y_res=251_111.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs="ESRI:54012")


@query(
    "cube_reproject_eck4",
    sql=_reproject_oracle(_ECK4G),
)
def cube_reproject_eck4(spark, sf_dir):
    """reproject_dataset onto a World-Eckert-IV grid (ESRI:54012) —
    the equal-area atlas pseudocylindrical, reached through pyproj in
    the reference (core/gridmapping/transform.py).  The closed-form
    inverse (asin of the auxiliary angle, Album of Map Projections
    p. 60) is one stage inside codegen; the oracle runs the same
    inverse text in DuckDB.  The
    forward Newton solve (_Eck4Forward) is exercised by the
    roundtrip + equal-area unit tests; anchors: the published
    ESRI:54012 projected extent (+-16921202.92 x +-8460601.46 m)."""
    out = reproject_dataset(_cube_a(spark), GRID, _ECK4G)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: World Miller cylindrical (ESRI:54003) ------------------

#: wide Miller window with off-round origin/steps: margin >= 6.9e-2
#: deg (Miller is cylindrical, so lon margins are exact by
#: construction and only lat needs the guard)
_MILLG = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-14_996_776.0, y_start=-8_980_545.0,
                  x_res=751_237.0, y_res=451_111.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs="ESRI:54003")


@query(
    "cube_reproject_miller",
    sql=_reproject_oracle(_MILLG),
)
def cube_reproject_miller(spark, sf_dir):
    """reproject_dataset onto a World-Miller-cylindrical grid
    (ESRI:54003) — Snyder 1987 ch. 11 closed form both directions
    (y = 1.25 R ln tan(pi/4 + 0.4 phi)), reached through pyproj in
    the reference.  Both engines run the same inverse text;
    anchored on Snyder's published numerical
    example (p. 287, scaled to the WGS84 sphere) and the 1.25 x
    compressed-Mercator identity asserted in tests."""
    out = reproject_dataset(_cube_a(spark), GRID, _MILLG)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: World Van der Grinten I (ESRI:54029) -------------------

#: Van der Grinten window inside the boundary circle, clear of the
#: equator/central-meridian special-case guards (|X|,|Y| >> 1e-12);
#: margin >= 1.5e-3 deg (asserted in tests/test_crsparse.py)
_VANDGG = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=-8_995_751.0, y_start=-8_008_684.0,
                   x_res=451_237.0, y_res=401_111.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs="ESRI:54029")


@query(
    "cube_reproject_vandg",
    sql=_reproject_oracle(_VANDGG),
)
def cube_reproject_vandg(spark, sf_dir):
    """reproject_dataset onto a World-Van-der-Grinten-I grid
    (ESRI:54029) — the world-in-a-circle atlas projection (Snyder
    1987 ch. 33), reached through pyproj in the reference.  The
    inverse is the trigonometric cubic root (33-14..33-23), staged
    as materialized columns; the oracle runs the same stages as a
    DuckDB CTE chain.  Anchors: equator maps linearly (x = R lam), poles at
    (0, +-pi R), world boundary = circle of radius pi R."""
    out = reproject_dataset(_cube_a(spark), GRID, _VANDGG)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Natural Earth (+proj=natearth) --------------------------

#: near-global Natural Earth window with off-round origin/steps:
#: margin >= 2.8e-3 deg (asserted in tests/test_crsparse.py)
_NATE = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-12_995_970.0, y_start=-7_044_268.0,
                 x_res=641_237.0, y_res=351_111.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="PROJ:NATEARTH")


@query(
    "cube_reproject_natearth",
    sql=_reproject_oracle(_NATE),
)
def cube_reproject_natearth(spark, sf_dir):
    """reproject_dataset onto a Natural Earth grid (PROJ:NATEARTH —
    no authority code exists; the Savric/Jenny/Patterson 2011
    polynomial compromise projection, which the reference reaches
    through pyproj's +proj=natearth).  Forward/inverse are pure
    polynomial math (the inverse a fixed 6-iteration Newton on the
    odd y polynomial, staged); the oracle runs the same stages as a
    DuckDB CTE chain."""
    out = reproject_dataset(_cube_a(spark), GRID, _NATE)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: spherical gnomonic local grid ---------------------------

from xcube_spark.operators.resampling.crsparse import resolve_proj4

_GNOM_CRS = resolve_proj4("+proj=gnom +lat_0=40 +lon_0=-100 +R=6371000")

#: off-round origin/steps keep every re-projected center >= 1.7e-3 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_GNOM = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-2_986_209.0, y_start=-2_472_081.0,
                 x_res=150_017.0, y_res=125_013.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs=_GNOM_CRS)


@query(
    "cube_reproject_gnomonic",
    sql=_reproject_oracle(_GNOM),
)
def cube_reproject_gnomonic(spark, sf_dir):
    """reproject_dataset onto a spherical gnomonic local grid (Snyder
    ch. 22) — great circles map to straight lines (the property
    navigation/seismic products use it for; pinned by a collinearity
    test), reference reaches it via pyproj +proj=gnom.  The oracle
    runs the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _GNOM)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: World Mercator (ellipsoidal, EPSG:3395) -----------------

#: off-round origin/steps keep every re-projected center >= 4.5e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_M3395 = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-17_011_013.0, y_start=-10_808_011.0,
                  x_res=850_017.0, y_res=540_013.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs="EPSG:3395")


@query(
    "cube_reproject_3395",
    sql=_reproject_oracle(_M3395),
)
def cube_reproject_3395(spark, sf_dir):
    """reproject_dataset onto the World Mercator grid (EPSG:3395) —
    the TRUE ellipsoidal Mercator (Snyder 7-7/7-10), distinct from
    web-mercator's spherical convention; charts and global marine
    products use it, the reference reaches it via pyproj.  The oracle
    runs the same inverse text (Snyder 7-10 + the chi->phi series) in
    DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _M3395)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: World Equidistant Cylindrical (EPSG:4087) ---------------

#: generous margins (>= 5e-3 deg; asserted in tests/test_crsparse.py)
_EQC = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=-17_013_011.0, y_start=-8_808_013.0,
                x_res=850_017.0, y_res=440_017.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="EPSG:4087")


@query(
    "cube_reproject_eqc",
    sql=_reproject_oracle(_EQC),
)
def cube_reproject_eqc(spark, sf_dir):
    """reproject_dataset onto WGS 84 / World Equidistant Cylindrical
    (EPSG:4087, method 1028): x = a*radians(lon), y = the true
    meridian arc (Krueger rectifying series — the TM family's
    machinery re-used at the central meridian); reference reaches it
    via pyproj.  The oracle runs the same inverse text (mu -> chi
    -> phi series) in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _EQC)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: spherical oblique stereographic --------------------------

#: spherical stereographic, oblique aspect centered on central Europe
#: (CF 'stereographic' with a spherical datum)
_STEREG_CRS = resolve_proj4(
    "+proj=stere +lat_0=52 +lon_0=10 +k_0=0.9996 +R=6371000")

#: off-round origin/steps keep every re-projected center >= 1.0e-3 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_STEREG = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=-2_801_017.0, y_start=-2_354_013.0,
                   x_res=140_013.0, y_res=120_017.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs=_STEREG_CRS)


@query(
    "cube_reproject_stereographic",
    sql=_reproject_oracle(_STEREG),
)
def cube_reproject_stereographic(spark, sf_dir):
    """reproject_dataset onto a spherical oblique stereographic grid
    (Snyder ch. 21, +k_0 scale at the center) — the CF
    'stereographic' grid-mapping name on a spherical datum, the
    conformal azimuthal for mid-latitude regional products; reference
    reaches it via pyproj.  The oracle runs the same inverse text in
    DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _STEREG)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: world sinusoidal (ESRI:54008, the MODIS family) ---------

#: off-round origin/steps keep every re-projected center >= 4.5e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_SINU = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-8_508_011.0, y_start=-6_206_013.0,
                 x_res=425_017.0, y_res=310_017.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs="ESRI:54008")


@query(
    "cube_reproject_sinusoidal",
    sql=_reproject_oracle(_SINU),
)
def cube_reproject_sinusoidal(spark, sf_dir):
    """reproject_dataset onto the world sinusoidal grid (ESRI:54008;
    the MODIS land-product tiling family SR-ORG:6974 shares the
    sphere) — the classic equal-area pseudocylindrical; reference
    reaches it via pyproj.  The oracle runs the same inverse text
    (phi = y/R, lon = x/(R cos phi)) in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _SINU)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: spherical orthographic -----------------------------------

#: the satellite-view (infinite-distance) azimuthal centered on the
#: eastern Mediterranean; grid stays well inside the visible disk
_ORTHO_CRS = resolve_proj4("+proj=ortho +lat_0=30 +lon_0=20 +R=6371000")

#: off-round origin/steps keep every re-projected center >= 4.1e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_ORTHO = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-2_801_011.0, y_start=-2_403_017.0,
                  x_res=140_017.0, y_res=120_011.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs=_ORTHO_CRS)


@query(
    "cube_reproject_ortho",
    sql=_reproject_oracle(_ORTHO),
)
def cube_reproject_ortho(spark, sf_dir):
    """reproject_dataset onto a spherical orthographic grid (Snyder
    ch. 20; CF 'orthographic') — the view-from-infinity globe
    rendering every viewer product offers; reference reaches it via
    pyproj.  The oracle runs the same inverse text (c = asin(rho/R))
    in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _ORTHO)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: near-sided vertical perspective ---------------------------

#: a geostationary-height viewpoint over the Americas (the CF
#: 'vertical_perspective' grid mapping); grid stays well inside the
#: horizon circle rho_max = R*sqrt((P-1)/(P+1))
_NSPER_CRS = resolve_proj4(
    "+proj=nsper +lat_0=0 +lon_0=-75 +h=35785831 +R=6371000")

#: off-round origin/steps keep every re-projected center >= 5.9e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_NSPER = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-2_803_011.0, y_start=-2_394_013.0,
                  x_res=140_013.0, y_res=120_019.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs=_NSPER_CRS)


@query(
    "cube_reproject_nsper",
    sql=_reproject_oracle(_NSPER),
)
def cube_reproject_nsper(spark, sf_dir):
    """reproject_dataset onto a near-sided vertical perspective grid
    (Snyder ch. 23; CF 'vertical_perspective') at geostationary
    height — the finite-distance satellite view, the spherical
    sibling of +proj=geos; reference reaches it via pyproj.  The
    oracle runs the same inverse text (Snyder 23-19/20) in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _NSPER)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: equidistant conic (ellipsoidal, GRS80) -------------------

#: the regional mid-latitude conic with true meridian scale (Snyder
#: ch. 16, ellipsoidal 16-12..16-15 via the Krueger rectifying series)
_EQDC_CRS = resolve_proj4(
    "+proj=eqdc +lat_1=30 +lat_2=50 +lat_0=40 +lon_0=-100 +ellps=GRS80")

#: off-round origin/steps keep every re-projected center >= 7.1e-4 deg
#: from any 1-degree source-cell edge (margin asserted in
#: tests/test_crsparse.py)
_EQDC = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                 x_start=-2_724_013.0, y_start=-2_326_011.0,
                 x_res=140_017.0, y_res=120_013.0,
                 t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                 crs=_EQDC_CRS)


@query(
    "cube_reproject_eqdc",
    sql=_reproject_oracle(_EQDC),
)
def cube_reproject_eqdc(spark, sf_dir):
    """reproject_dataset onto an ellipsoidal equidistant-conic grid
    (Snyder ch. 16; PROJ +proj=eqdc) — the classic regional conic
    with TRUE meridian scale everywhere (rho = aG - M(phi), the
    meridian arc via the Krueger rectifying series — the same
    machinery as ellipsoidal eqc/TM); reference reaches it via
    pyproj.  The oracle runs the same inverse text (rho -> M -> mu
    -> chi -> phi series) in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _EQDC)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Robinson world grid (ESRI:54030) --------------------------

#: off-round origin/steps keep every re-projected center >= 1.1e-3 deg
#: from any 1-degree source-cell edge, and the whole window inside the
#: Robinson outline (margin asserted in tests/test_crsparse.py)
_ROBIN = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                  x_start=-10_866_011.0, y_start=-7_808_013.0,
                  x_res=540_017.0, y_res=390_013.0,
                  t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                  crs="ESRI:54030")


@query(
    "cube_reproject_robinson",
    sql=_reproject_oracle(_ROBIN),
)
def cube_reproject_robinson(spark, sf_dir):
    """reproject_dataset onto the Robinson world grid (ESRI:54030) —
    the table-defined compromise projection of most world atlases
    (Robinson 1974; the published 5-degree (X, Y) nodes interpolated
    by the natural cubic spline, coefficients solved once at import
    and embedded identically in both engines).  The inverse solves
    the monotone Y cubic with a fixed 4-iteration Newton per the
    sterea discipline; the oracle runs the same stages as a DuckDB
    CTE chain.  Reference reaches it via pyproj."""
    out = reproject_dataset(_cube_a(spark), GRID, _ROBIN)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Hammer equal-area world grid ------------------------------

#: off-round origin/steps keep every re-projected center >= 4.8e-4 deg
#: from any 1-degree source-cell edge and inside the elliptical
#: outline (margin asserted in tests/test_crsparse.py)
_HAMMER = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=-10_500_011.0, y_start=-7_020_013.0,
                   x_res=540_017.0, y_res=360_013.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs="PROJ:HAMMER")


@query(
    "cube_reproject_hammer",
    sql=_reproject_oracle(_HAMMER),
)
def cube_reproject_hammer(spark, sf_dir):
    """reproject_dataset onto the Hammer(-Aitoff) equal-area world
    grid (Hammer 1892; Snyder's modified azimuthals) — the Lambert
    azimuthal equatorial aspect at halved longitudes stretched 2x in
    x, closed form BOTH directions (z = sqrt(1 - (x/4)^2 - (y/2)^2));
    reference reaches it via pyproj +proj=hammer.  The oracle runs
    the same inverse text in DuckDB."""
    out = reproject_dataset(_cube_a(spark), GRID, _HAMMER)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: Winkel Tripel world grid (ESRI:54042) ---------------------

#: off-round origin/steps keep every re-projected center >= 8.5e-4 deg
#: from any 1-degree source-cell edge, and the whole window inside the
#: Winkel-Tripel outline (margin asserted in tests/test_crsparse.py)
_WINTRI = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                   x_start=-10_869_011.0, y_start=-7_799_013.0,
                   x_res=540_017.0, y_res=390_313.0,
                   t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                   crs="ESRI:54042")


@query(
    "cube_reproject_wintri",
    sql=_reproject_oracle(_WINTRI),
)
def cube_reproject_wintri(spark, sf_dir):
    """reproject_dataset onto the Winkel Tripel world grid
    (ESRI:54042) — the National Geographic world map projection, the
    round-8 verdict's designated last mainstream-atlas gap.  Forward
    is closed form (mean of equirectangular at cos(phi1) = 2/pi and
    Aitoff); there is NO closed-form inverse — the engine runs a
    fixed 6-step 2-D Newton solve with the analytic Jacobian (the
    published approach for this projection: Ipbuker & Bildirici 2002)
    as staged arithmetic, and the oracle runs the same stages as a
    DuckDB CTE chain.  Reference reaches wintri only via pyproj
    (core/gridmapping/transform.py)."""
    out = reproject_dataset(_cube_a(spark), GRID, _WINTRI)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- reproject: interrupted Goode homolosine world grid (PROJ:IGH) ------

#: off-round origin/steps keep every re-projected center >= 1.7e-3 deg
#: from any 1-degree source-cell edge, >= 3e-3 rad from the Goode
#: boundary parallel / interruption meridians, and |y|/R <= 1.314
#: (inside the Mollweide asin domain) — asserted in test_crsparse.py
_IGH = CubeGrid(width=40, height=40, time_periods=GRID.time_periods,
                x_start=-19_947_013.0, y_start=-8_579_013.0,
                x_res=997_313.0, y_res=429_313.0,
                t_start=GRID.t_start, t_freq_days=GRID.t_freq_days,
                crs="PROJ:IGH")


@query(
    "cube_reproject_goode",
    sql=_reproject_oracle(_IGH),
)
def cube_reproject_goode(spark, sf_dir):
    """reproject_dataset onto the INTERRUPTED Goode homolosine world
    grid (+proj=igh; Goode 1925, USGS GCTP goode.c) — the round-8
    verdict's designated 'interrupted projections' gap: equal-area
    sinusoidal between the 40d44'11.8" parallels and six Mollweide
    lobes above, interrupted along 40W (north) / 100W, 20W, 80E
    (south) with per-lobe central meridians.  The engine derives the
    EXACT Mollweide continuity offset at import (GCTP's
    0.0528035274542) and the whole inverse is one closed-form stage;
    the oracle runs the same zone tests as DuckDB text.  Reference
    reaches igh only via pyproj
    (core/gridmapping/transform.py).  Cells in the interruption gaps
    resolve deterministically (PROJ's inverse convention: classify by
    projected x against the interruption meridians) on BOTH engines;
    gap points whose lon falls outside [-180, 180] miss the source
    join and stay NULL."""
    out = reproject_dataset(_cube_a(spark), GRID, _IGH)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


# ---- sf-SCALED §2.6 bench rows (round-9 verdict task 1) ----------------
#
# Every §2.6 gate so far runs on the fixed synthetic GRID, so the
# engine's compute-heaviest core (reference core/resampling/rectify.py
# and reproject.py) was never perf-measured against data volume.  The
# two queries below derive the SOURCE from the sf-scaled events table
# (event_id is contiguous 0..n-1), so their cost grows with sf and a
# regression in the gather-join path shows up in BENCH_r{N}.

import weakref as _weakref

from xcube_spark.queries import tbl

_N_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _events_n(spark, sf_dir) -> int:
    """events row count, memoized per (session, sf_dir) — one
    metadata-sized driver round trip that sizes the target grids."""
    per = _N_CACHE.setdefault(spark, {})
    if sf_dir not in per:
        per[sf_dir] = tbl(spark, sf_dir, "events").count()
    return per[sf_dir]


_RG_W = 1000  # swath/grid width for events_rectify_grid


@query(
    "events_rectify_grid",
    sql=f"""
        WITH sw AS (
            SELECT CAST(event_id // {_RG_W} AS INT) AS sy,
                   CAST(event_id % {_RG_W} AS INT) AS sx,
                   value
            FROM events
        ), dims AS (
            SELECT CAST(COUNT(*) // {_RG_W} + 2 AS INT) AS h FROM events
        ), grid AS (
            -- range() can't take subqueries: static cap (covers sf<=4)
            -- filtered to the derived height
            SELECT 0 AS t_i,
                   CAST(range // {_RG_W} AS INT) AS y_i,
                   CAST(range % {_RG_W} AS INT) AS x_i
            FROM range(4100000)
            WHERE range < (SELECT h FROM dims) * {_RG_W}
        )
        SELECT g.t_i, g.y_i, g.x_i, ROUND(s.value, 6) AS A
        FROM grid g LEFT JOIN sw s
          ON s.sy = g.y_i - 1 AND s.sx = g.x_i + 1
    """,
    bench=True,
)
def events_rectify_grid(spark, sf_dir):
    """sf-scaled rectify_dataset (rectify.py:330): the swath IS the
    events table — pixel (sy, sx) = (event_id // 1000, event_id %
    1000) with per-pixel lon/lat shifted (-0.27, +1.31) cells, so the
    ij-lookup reduces to the index translation (ty, tx) <- (sy + 1,
    sx - 1) the oracle restates as one join.  Exactly one swath pixel
    lands in each covered target cell (shift < half a cell), so the
    min_by reduction has no ties.  The target grid height derives
    from the row count: the workload — lookup reduction + gather
    join — grows linearly with sf."""
    ev = tbl(spark, sf_dir, "events")
    h = _events_n(spark, sf_dir) // _RG_W + 2
    grid = CubeGrid(width=_RG_W, height=h, time_periods=1,
                    x_start=0.0, y_start=0.0, x_res=1.0, y_res=1.0)
    swath = ev.select(
        F.lit(0).alias("t_i"),
        (F.col("event_id") / _RG_W).cast("int").alias("y_i"),
        (F.col("event_id") % _RG_W).cast("int").alias("x_i"),
        F.col("value").alias("A"),
    ).withColumns({
        "lon": F.col("x_i") - F.lit(0.27),   # floor -> x_i - 1
        "lat": F.col("y_i") + F.lit(1.31),   # floor -> y_i + 1
    })
    out = rectify_dataset(swath, grid, var_names=["A"], time_values=[0],
                          # event_id -> pixel is a bijection on the
                          # single plane: one value row per (t, pixel)
                          # -> inverse map-side gather (r12)
                          complete_source=True)
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))


_RU_PLANE = 360 * 180  # one full 1-degree source plane per time step
_RU_MUL = 7919         # prime, coprime with 64800: bijective scramble


@query(
    "events_reproject_utm",
    sql=f"""
        WITH dims AS (
            SELECT CAST((COUNT(*) + {_RU_PLANE - 1}) // {_RU_PLANE} AS INT)
                   AS t FROM events
        ), src AS (
            SELECT CAST(event_id // {_RU_PLANE} AS INT) AS t_i,
                   CAST(((event_id % {_RU_PLANE}) * {_RU_MUL})
                        % {_RU_PLANE} // 360 AS INT) AS y_i,
                   CAST(((event_id % {_RU_PLANE}) * {_RU_MUL})
                        % 360 AS INT) AS x_i,
                   value
            FROM events
        ), tgt AS (
            -- range() can't take subqueries: static cap (64 planes
            -- covers sf<=4) filtered to the derived time-step count
            SELECT CAST(range // 1600 AS INT) AS t_i,
                   CAST((range % 1600) // 40 AS INT) AS y_i,
                   CAST(range % 40 AS INT) AS x_i
            FROM range(102400)
            WHERE range < (SELECT t FROM dims) * 1600
        ), {inverse_sql_ctes(_UTM.crs, _UTM.x_center_sql(),
                             _UTM.y_center_sql())}, f AS (
            SELECT t_i, y_i, x_i,
                   CAST(FLOOR((lon - -180.0) / 1.0) AS INT) AS sx,
                   CAST(FLOOR((lat - -90.0) / 1.0) AS INT) AS sy
            FROM ll
        )
        SELECT f.t_i, f.y_i, f.x_i, ROUND(s.value, 6) AS A
        FROM f LEFT JOIN src s
          ON s.t_i = f.t_i AND s.y_i = f.sy AND s.x_i = f.sx
    """,
    bench=True,
)
def events_reproject_utm(spark, sf_dir):
    """sf-scaled reproject_dataset (reproject.py): the source cube IS
    the events table scattered bijectively over 1-degree global
    planes (cell = (event_id %% plane) * 7919 %% plane, one plane per
    64800 ids — the coprime multiplier spreads sparse small-sf data
    uniformly so the UTM window is populated at every sf), reprojected
    onto the margin-validated zone-33 target of cube_reproject_utm
    extended to the derived time-step count.  The target table is
    bounded (output raster size).  The oracle runs the same
    Krueger-series inverse text in DuckDB and re-derives the
    gather."""
    ev = tbl(spark, sf_dir, "events")
    t = -(-_events_n(spark, sf_dir) // _RU_PLANE)
    src_grid = CubeGrid(width=360, height=180, time_periods=t)
    tgt_grid = CubeGrid(width=40, height=40, time_periods=t,
                        x_start=200_000.0, y_start=3_800_000.0,
                        x_res=20_000.0, y_res=20_000.0,
                        crs="EPSG:32633")
    rel = F.col("event_id") % _RU_PLANE
    cell = (rel * _RU_MUL) % _RU_PLANE
    cube = ev.select(
        (F.col("event_id") / _RU_PLANE).cast("int").alias("t_i"),
        (cell / 360).cast("int").alias("y_i"),
        (cell % 360).cast("int").alias("x_i"),
        F.col("value").alias("A"),
    )
    out = reproject_dataset(cube, src_grid, tgt_grid, var_names=["A"])
    return out.select("t_i", "y_i", "x_i", F.round("A", 6).alias("A"))
