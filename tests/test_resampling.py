"""Spatial resampling tests: affine gather (nearest + bilinear),
integer downscale routing, rectify ij-lookup, reproject round-trip,
and the resample_in_space dispatcher (xcube test_affine/test_rectify
analog — small deterministic cubes, exact expected values)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube
from xcube_spark.operators.resampling import (
    affine_transform_dataset,
    rectify_dataset,
    reproject_dataset,
    resample_in_space,
)
from xcube_spark.operators.resampling.reproject import (
    _FAMILIES,
    _lonlat_to_mercator,
    apply_transform_df,
    get_transform,
)
from xcube_spark.operators.resampling.spatial import _integer_factor

SRC = CubeGrid(width=8, height=8, time_periods=2, x_start=0.0, y_start=0.0,
               x_res=1.0, y_res=1.0)
# ramp variable: v = 10*y_i + x_i, exactly recoverable
VARS = {"v": lambda ns: (10 * ns["y_i"] + ns["x_i"]).cast("double")}


@pytest.fixture(scope="module")
def src_cube(spark):
    return new_cube(spark, SRC, VARS).cache()


def _lookup(df, t_i, y_i, x_i):
    rows = df.where(
        (F.col("t_i") == t_i) & (F.col("y_i") == y_i) & (F.col("x_i") == x_i)
    ).collect()
    assert len(rows) == 1
    return rows[0]


def test_affine_identity_nearest(spark, src_cube):
    out = affine_transform_dataset(src_cube, SRC, SRC, spline_orders=0)
    assert out.count() == SRC.size
    r = _lookup(out, 1, 3, 5)
    assert r["v"] == 35.0


def test_affine_shift_nearest(spark, src_cube):
    # target shifted by exactly one source cell: v(target i) = v(src i+1)
    tgt = CubeGrid(width=6, height=6, time_periods=2, x_start=1.0,
                   y_start=1.0, x_res=1.0, y_res=1.0)
    out = affine_transform_dataset(src_cube, SRC, tgt, spline_orders=0)
    r = _lookup(out, 0, 2, 2)
    assert r["v"] == 10 * 3 + 3  # src (3,3)


def test_affine_bilinear_halfcell(spark, src_cube):
    # target centers fall exactly between 4 source centers ->
    # bilinear = mean of the 4 corners of the ramp = ramp at midpoint
    tgt = CubeGrid(width=7, height=7, time_periods=2, x_start=0.5,
                   y_start=0.5, x_res=1.0, y_res=1.0)
    out = affine_transform_dataset(src_cube, SRC, tgt, spline_orders=1)
    r = _lookup(out, 0, 2, 3)
    # target center (y=3.0, x=4.0) -> frac idx (2.5, 3.5): corners
    # v in {(2,3),(2,4),(3,3),(3,4)} = {23,24,33,34}, mean = 28.5
    assert r["v"] == pytest.approx(28.5)


def test_affine_upsample_2x_nearest(spark, src_cube):
    tgt = CubeGrid(width=16, height=16, time_periods=2, x_start=0.0,
                   y_start=0.0, x_res=0.5, y_res=0.5)
    out = affine_transform_dataset(src_cube, SRC, tgt, spline_orders=0)
    assert out.count() == tgt.size
    # target (y_i=4, x_i=6) center = (2.25, 3.25) -> src (2, 3)
    r = _lookup(out, 0, 4, 6)
    assert r["v"] == 23.0


def test_integer_factor_detection():
    tgt = CubeGrid(width=4, height=4, time_periods=2, x_start=0.0,
                   y_start=0.0, x_res=2.0, y_res=2.0)
    assert _integer_factor(SRC, tgt) == 2
    off = CubeGrid(width=4, height=4, time_periods=2, x_start=0.5,
                   y_start=0.0, x_res=2.0, y_res=2.0)
    assert _integer_factor(SRC, off) is None


def test_resample_in_space_downscale_route(spark, src_cube):
    tgt = CubeGrid(width=4, height=4, time_periods=2, x_start=0.0,
                   y_start=0.0, x_res=2.0, y_res=2.0)
    out = resample_in_space(src_cube, SRC, tgt)
    r = _lookup(out, 0, 0, 0)
    # block mean of {0,1,10,11} = 5.5
    assert r["v"] == pytest.approx(5.5)


def test_resample_in_space_noop(spark, src_cube):
    assert resample_in_space(src_cube, SRC, SRC) is src_cube


def test_rectify_swath(spark):
    # irregular source: lon/lat are a rotated-ish function of (y_i, x_i);
    # here simply offset so each source center lands inside one target cell
    cube = new_cube(spark, SRC, VARS)
    swath = cube.withColumns({
        "lon": F.col("x") + 0.1,
        "lat": F.col("y") - 0.1,
    })
    tgt = CubeGrid(width=8, height=8, time_periods=2, x_start=0.0,
                   y_start=0.0, x_res=1.0, y_res=1.0)
    out = rectify_dataset(swath, tgt, var_names=["v"])
    assert out.count() == tgt.size
    # source center (y=3.5,x=5.5) -> swath (lon=5.6, lat=3.4) -> target
    # cell (y_i=3, x_i=5): nearest source = v(3,5)=35
    r = _lookup(out, 1, 3, 5)
    assert r["v"] == 35.0


def test_mercator_roundtrip(spark):
    df = spark.createDataFrame(
        [(l, p) for l in (-170.0, 0.0, 45.0) for p in (-60.0, 0.0, 70.0)],
        "lon double, lat double",
    )
    mx, my = _lonlat_to_mercator(F.col("lon"), F.col("lat"))
    inv = get_transform("EPSG:3857", "EPSG:4326")
    rows = apply_transform_df(df, inv, mx, my, "lon2", "lat2").collect()
    for r in rows:
        assert r["lon2"] == pytest.approx(r["lon"], abs=1e-9)
        assert r["lat2"] == pytest.approx(r["lat"], abs=1e-9)


def test_reproject_4326_to_3857(spark, src_cube):
    # target: web-mercator box covering the source's lower-left quarter
    merc = CubeGrid(
        width=4, height=4, time_periods=2,
        x_start=0.0, y_start=0.0,
        x_res=111319.49079327358, y_res=111319.49079327358,  # ~1 deg
        crs="EPSG:3857",
    )
    out = reproject_dataset(src_cube, SRC, merc)
    assert out.count() == merc.size
    # target cell (0,0) center ~ (0.5 deg, ~0.5 deg lat) -> src (0,0)
    r = _lookup(out, 0, 0, 0)
    assert r["v"] == 0.0


def test_reproject_dispatch(spark, src_cube):
    merc = CubeGrid(width=2, height=2, time_periods=2, x_start=0.0,
                    y_start=0.0, x_res=222638.98, y_res=222638.98,
                    crs="EPSG:3857")
    out = resample_in_space(src_cube, SRC, merc)
    assert out.count() == merc.size


def test_rectify_idw_constant_and_blend(spark):
    """IDW rectification: a constant field blends to the constant; a
    dense 2x source grid blends 4 pixels per target cell, and a linear
    field stays within its neighbors' range."""
    dense = CubeGrid(width=16, height=16, time_periods=1, x_start=0.0,
                     y_start=0.0, x_res=0.5, y_res=0.5)
    tgt = CubeGrid(width=8, height=8, time_periods=1, x_start=0.0,
                   y_start=0.0, x_res=1.0, y_res=1.0)

    const = new_cube(spark, dense, {"v": 7.5}).withColumns(
        {"lon": F.col("x"), "lat": F.col("y")})
    out = rectify_dataset(const, tgt, var_names=["v"], interpolation="idw")
    assert out.count() == tgt.width * tgt.height
    vals = {r["v"] for r in out.collect()}
    assert vals == {7.5}

    lin = new_cube(spark, dense, {
        "v": lambda ns: (ns["y"] * 10 + ns["x"]).cast("double")
    }).withColumns({"lon": F.col("x"), "lat": F.col("y")})
    out2 = rectify_dataset(lin, tgt, var_names=["v"], interpolation="idw")
    # target cell (0,0) covers the 4 dense pixels at (0.25/0.75)^2:
    # values {2.75, 3.25, 7.75, 8.25}, symmetric weights -> mean 5.5
    r = out2.where("y_i = 0 AND x_i = 0").collect()[0]
    assert r["v"] == pytest.approx(5.5)


def test_rectify_idw_rejects_output_ij(spark):
    cube = new_cube(spark, SRC, VARS).withColumns(
        {"lon": F.col("x"), "lat": F.col("y")})
    with pytest.raises(ValueError):
        rectify_dataset(cube, SRC, interpolation="idw", output_ij=True)
    with pytest.raises(ValueError):
        rectify_dataset(cube, SRC, interpolation="cubic")


def test_rectify_bilinear_fractional_parity(spark):
    """Quarter-cell-shifted swath: every target center sits at
    fractional (u, v) = (0.75, 0.75), so bilinear must reproduce the
    reference's 4-corner blend exactly (rectify.py:799-810)."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.rectify import rectify_dataset

    grid = CubeGrid(width=10, height=6, time_periods=2, x_res=1.0,
                    y_res=1.0, x_start=0.0, y_start=0.0)
    cube = new_cube(spark, grid,
                    {"V": "CAST(t_i * 1000 + y_i * 100 + x_i AS DOUBLE)"})
    swath = cube.withColumns({"lon": F.col("x") + 0.25,
                              "lat": F.col("y") + 0.25})
    out = rectify_dataset(swath, grid, var_names=["V"],
                          interpolation="bilinear")
    rows = {(r["t_i"], r["y_i"], r["x_i"]): r["V"] for r in out.collect()}
    assert len(rows) == grid.size
    for (t, J, I), got in rows.items():
        if I == 0 or J == 0:
            assert got is None
            continue
        v00 = t * 1000 + (J - 1) * 100 + (I - 1)
        v10 = t * 1000 + J * 100 + (I - 1)
        vu0 = v00 + 0.75 * 1.0
        vu1 = v10 + 0.75 * 1.0
        assert got == pytest.approx(vu0 + 0.75 * (vu1 - vu0), abs=1e-9)


def test_rectify_triangular_rotated_swath(spark):
    """A rotated swath exercises the genuine triangle inversion (both
    triangles, uv tolerance): every rectified value must lie within the
    hull of its source neighborhood, and coverage must be dense away
    from the swath border."""
    import math

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.rectify import rectify_dataset

    grid = CubeGrid(width=16, height=16, time_periods=1, x_res=1.0,
                    y_res=1.0, x_start=0.0, y_start=0.0)
    c, s = math.cos(0.2), math.sin(0.2)
    cube = new_cube(spark, grid, {"V": "CAST(y_i + x_i AS DOUBLE)"})
    swath = cube.withColumns({
        "lon": F.col("x") * c - F.col("y") * s + 3.0,
        "lat": F.col("x") * s + F.col("y") * c,
    })
    out = rectify_dataset(swath, grid, var_names=["V"],
                          interpolation="triangular")
    vals = [r["V"] for r in out.collect() if r["V"] is not None]
    assert len(vals) > 100  # dense coverage inside the rotated footprint
    assert min(vals) >= 0.0 and max(vals) <= 30.0  # inside the data hull


def test_utm_roundtrip_and_anchors(spark):
    """Krueger-series UTM: forward(inverse) round-trips to <1e-7 deg;
    the central meridian maps to easting 500000 and the equator to
    northing 0; northing at 45N equals k0 x meridian arc (published
    geodesy value 4982950.4 m)."""
    from xcube_spark.operators.resampling.reproject import (
        _lonlat_to_utm_fn, parse_utm_crs, utm_crs)

    assert utm_crs(33) == "EPSG:32633" and utm_crs(19, south=True) == "EPSG:32719"
    assert parse_utm_crs("EPSG:32719") == (19, True)
    assert parse_utm_crs("EPSG:4326") is None
    assert get_transform("EPSG:32633", "EPSG:4326") is not None

    fwd = _lonlat_to_utm_fn(33, False)
    inv = get_transform("EPSG:32633", "EPSG:4326")
    pts = spark.createDataFrame(
        [(15.0, 0.0), (15.0, 45.0), (12.5, 41.9), (17.9, -36.1)],
        ["lon", "lat"])
    x, y = fwd(F.col("lon"), F.col("lat"))
    proj = pts.select("lon", "lat", x.alias("x"), y.alias("y"))
    rows = apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                              "lon2", "lat2").collect()
    for r in rows:
        assert r["lon2"] == pytest.approx(r["lon"], abs=1e-7)
        assert r["lat2"] == pytest.approx(r["lat"], abs=1e-7)
    anchors = {(15.0, 0.0): (500000.0, 0.0), (15.0, 45.0): (500000.0, 4982950.4)}
    for r in rows:
        if (r["lon"], r["lat"]) in anchors:
            ex, ey = anchors[(r["lon"], r["lat"])]
            assert r["x"] == pytest.approx(ex, abs=0.5)
            assert r["y"] == pytest.approx(ey, abs=0.5)


def test_polar_stereographic_roundtrip_and_known_values(spark):
    from pyspark.sql import functions as F
    from xcube_spark.operators.resampling.reproject import get_transform

    pts = spark.createDataFrame(
        [(-45.0, 70.0), (10.0, 75.0), (-100.0, 62.0)],
        "lon double, lat double")
    fwd = get_transform("EPSG:4326", "EPSG:3413")
    inv = get_transform("EPSG:3413", "EPSG:4326")
    x, y = fwd(F.col("lon"), F.col("lat"))
    rows = apply_transform_df(
        pts.select("lon", "lat", x.alias("x"), y.alias("y")), inv,
        F.col("x"), F.col("y"), "lon2", "lat2").collect()
    for r in rows:
        assert abs(r.lon2 - r.lon) < 1e-6 and abs(r.lat2 - r.lat) < 1e-6
    # published behavior: the standard parallel on the central meridian
    # lies on the negative y axis (NSIDC north grid)
    origin = {(-45.0): rows[0]}[rows[0].lon]
    assert abs(origin.x) < 1e-6 and origin.y < -2_000_000

    sfwd = get_transform("EPSG:4326", "EPSG:3031")
    sx, sy = sfwd(F.col("lon"), F.col("lat"))
    s = spark.createDataFrame([(45.0, -80.0)], "lon double, lat double") \
        .select(sx.alias("x"), sy.alias("y")).collect()[0]
    # EPSG:3031 at (45E, 80S): x == y == ~770166.18 m (Snyder south aspect)
    assert abs(s.x - 770166.179) < 0.01 and abs(s.y - 770166.179) < 0.01


def test_get_transform_chains_through_lonlat(spark):
    from pyspark.sql import functions as F
    from xcube_spark.operators.resampling.reproject import get_transform

    # mercator -> polar chains via the 4326 hop
    chain = get_transform("EPSG:3857", "EPSG:3413")
    direct = get_transform("EPSG:4326", "EPSG:3413")
    pts = spark.createDataFrame([(10.0, 75.0)], "lon double, lat double")
    mx = F.col("lon") * 6378137.0 * 3.141592653589793 / 180.0
    import math
    my = (F.log(F.tan(F.lit(math.pi / 4) + F.radians(F.col("lat")) / 2))
          * 6378137.0)
    dx, dy = direct(F.col("lon"), F.col("lat"))
    r = apply_transform_df(
        pts.select("lon", "lat", dx.alias("dx"), dy.alias("dy")),
        chain, mx, my, "cx", "cy").collect()[0]
    assert abs(r.cx - r.dx) < 1e-4 and abs(r.cy - r.dy) < 1e-4


def _family_grids() -> dict:
    """One oracle gate grid per CRS family: the target grids of the
    cube_reproject_* queries, keyed by the family's inverse name."""
    from xcube_spark.operators.resampling.crsparse import resolve_crs
    from xcube_spark.operators.resampling.reproject import _family
    from xcube_spark.queries import resampling_ops as q

    grids = {}
    for g in vars(q).values():
        if isinstance(g, CubeGrid) and g.crs.upper() != "EPSG:4326":
            grids.setdefault(_family(resolve_crs(g.crs))[1].__name__, g)
    return grids


@pytest.mark.parametrize(
    "inverse", [row[1].__name__ for row in _FAMILIES])
def test_inverse_text_same_in_spark_and_duckdb(spark, inverse):
    """Each family's inverse is one stage list; Spark runs it as
    parsed SQL and the oracle renders it for DuckDB (inline or CTEs,
    with the hyperbolic functions rewritten).  On every center of the
    family's gate grid both engines agree to 1e-9 deg."""
    import duckdb

    from xcube_spark.operators.resampling.reproject import inverse_sql_ctes

    grid = _family_grids()[inverse]
    x, y = grid.x_center_sql(), grid.y_center_sql()
    cells = spark.range(grid.width * grid.height).select(
        (F.col("id") / grid.width).cast("int").alias("y_i"),
        (F.col("id") % grid.width).cast("int").alias("x_i"))
    got = apply_transform_df(cells, get_transform(grid.crs, "EPSG:4326"),
                             x, y, "lon", "lat").collect()
    want = duckdb.connect().execute(f"""
        WITH tgt AS (SELECT CAST(range // {grid.width} AS INT) AS y_i,
                            CAST(range % {grid.width} AS INT) AS x_i
                     FROM range({grid.width * grid.height})),
        {inverse_sql_ctes(grid.crs, x, y)}
        SELECT y_i, x_i, lon, lat FROM ll
    """).fetchall()
    want = {(r[0], r[1]): r[2:] for r in want}
    assert len(want) == len(got) == grid.width * grid.height
    finite = 0
    for r in got:
        lon, lat = want[(r.y_i, r.x_i)]
        for a, b in ((r.lon, lon), (r.lat, lat)):
            assert (a is None) == (b is None), (r, lon, lat)
            if a is not None:
                assert abs(a - b) <= 1e-9, (r, lon, lat)
                finite += 1
    assert finite > 0


def test_laea_3035_known_points_and_roundtrip(spark):
    """ETRS89-LAEA (EPSG:3035): the projection center maps exactly to
    the false origin; (5E, 50N) matches the published sample
    coordinate; forward->inverse round-trips below 1e-7 degrees."""
    from xcube_spark.operators.resampling.reproject import get_transform

    fwd = get_transform("EPSG:4326", "EPSG:3035")
    inv = get_transform("EPSG:3035", "EPSG:4326")
    pts = spark.createDataFrame(
        [(10.0, 52.0), (5.0, 50.0), (25.0, 60.0), (-5.0, 40.0)],
        "lon double, lat double")
    x, y = fwd(F.col("lon"), F.col("lat"))
    proj = pts.select("lon", "lat", x.alias("x"), y.alias("y"))
    rows = apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                              "lon2", "lat2").collect()
    by_lon = {r.lon: r for r in rows}
    assert abs(by_lon[10.0].x - 4_321_000.0) < 1e-6
    assert abs(by_lon[10.0].y - 3_210_000.0) < 1e-6
    # published EPSG:3035 sample point (5E, 50N)
    assert abs(by_lon[5.0].x - 3_962_799.451) < 0.01
    assert abs(by_lon[5.0].y - 2_999_718.853) < 0.01
    for r in rows:
        assert abs(r.lon2 - r.lon) < 1e-7 and abs(r.lat2 - r.lat) < 1e-7


# ---- OSGB National Grid (EPSG:27700) ----------------------------------


def _osgb_redfearn_ref(lon_wgs, lat_wgs):
    """Independent scalar reference for EPSG:27700: the OS guide's own
    Redfearn-style TM formulas (meridian-arc series in n + nu/rho/eta2
    terms I..VI) after the same Helmert datum hop — a DIFFERENT
    algebra from the production Krueger series, so agreement is a real
    cross-check, not a translation."""
    import math as m

    aw, fw = 6378137.0, 1.0 / 298.257223563
    e2w = fw * (2.0 - fw)
    lam, phi = m.radians(lon_wgs), m.radians(lat_wgs)
    nu = aw / m.sqrt(1.0 - e2w * m.sin(phi) ** 2)
    X = nu * m.cos(phi) * m.cos(lam)
    Y = nu * m.cos(phi) * m.sin(lam)
    Z = nu * (1.0 - e2w) * m.sin(phi)
    tx, ty, tz = -446.448, 125.157, -542.060
    rx, ry, rz = (m.radians(s / 3600.0)
                  for s in (-0.1502, -0.2470, -0.8421))
    s = 20.4894e-6
    Xo = tx + (1 + s) * X - rz * Y + ry * Z
    Yo = ty + rz * X + (1 + s) * Y - rx * Z
    Zo = tz - ry * X + rx * Y + (1 + s) * Z
    a, f = 6377563.396, 1.0 / 299.3249646
    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = (a * a - b * b) / (b * b)
    p = m.sqrt(Xo * Xo + Yo * Yo)
    th = m.atan2(Zo * a, p * b)
    phi = m.atan2(Zo + ep2 * b * m.sin(th) ** 3,
                  p - e2 * a * m.cos(th) ** 3)
    lam = m.atan2(Yo, Xo)
    # Redfearn TM on Airy (OS guide C.1)
    F0, phi0, lam0 = 0.9996012717, m.radians(49.0), m.radians(-2.0)
    E0, N0 = 400_000.0, -100_000.0
    n = (a - b) / (a + b)
    dphi, sphi = phi - phi0, phi + phi0
    M = b * F0 * (
        (1 + n + 5 / 4 * n**2 + 5 / 4 * n**3) * dphi
        - (3 * n + 3 * n**2 + 21 / 8 * n**3)
        * m.sin(dphi) * m.cos(sphi)
        + (15 / 8 * n**2 + 15 / 8 * n**3)
        * m.sin(2 * dphi) * m.cos(2 * sphi)
        - 35 / 24 * n**3 * m.sin(3 * dphi) * m.cos(3 * sphi))
    nu = a * F0 / m.sqrt(1.0 - e2 * m.sin(phi) ** 2)
    rho = a * F0 * (1.0 - e2) / (1.0 - e2 * m.sin(phi) ** 2) ** 1.5
    eta2 = nu / rho - 1.0
    sp, cp, tp = m.sin(phi), m.cos(phi), m.tan(phi)
    I = M + N0
    II = nu / 2 * sp * cp
    III = nu / 24 * sp * cp**3 * (5 - tp**2 + 9 * eta2)
    IIIA = nu / 720 * sp * cp**5 * (61 - 58 * tp**2 + tp**4)
    IV = nu * cp
    V = nu / 6 * cp**3 * (nu / rho - tp**2)
    VI = nu / 120 * cp**5 * (5 - 18 * tp**2 + tp**4
                             + 14 * eta2 - 58 * tp**2 * eta2)
    P = lam - lam0
    N = I + II * P**2 + III * P**4 + IIIA * P**6
    E = E0 + IV * P + V * P**3 + VI * P**5
    return E, N


def test_osgb_tm_core_os_worked_example(spark):
    """The Airy-TM core reproduces the OS guide's worked example
    (OSGB36 geodetic 52d39m27.2531sN, 1d43m4.5177sE ->
    E 651409.903, N 313177.270) to better than a millimetre."""
    import math as m

    from xcube_spark.operators.resampling.reproject import _osgb_tm_fwd

    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    df = spark.range(1).select(
        F.lit(m.radians(lon)).alias("lam"), F.lit(m.radians(lat)).alias("phi"))
    x, y = _osgb_tm_fwd(F.col("lam"), F.col("phi"))
    r = df.select(x.alias("E"), y.alias("N")).collect()[0]
    assert abs(r.E - 651_409.903) < 1e-3
    assert abs(r.N - 313_177.270) < 1e-3


def test_osgb_full_chain_vs_independent_redfearn(spark):
    """Full WGS84 -> EPSG:27700 chain (Helmert + Bowring + Krueger TM)
    agrees with the independent Redfearn-formula reference within 5 mm
    across the OSGB domain, and round-trips below 1e-6 deg (~0.1 m;
    the residual is the standard first-order Helmert inversion +
    off-ellipsoid Bowring, both ~mm).  Materialized between stages —
    a single composed expression tree is the documented codegen
    blowup."""
    from xcube_spark.operators.resampling.reproject import get_transform

    pts = [(float(lo), float(la))
           for lo in (-7.0, -5.0, -2.0, 0.5, 1.8)
           for la in (50.0, 53.5, 57.0, 60.5)]
    fwd = get_transform("EPSG:4326", "EPSG:27700")
    df = spark.createDataFrame(pts, "lon double, lat double")
    x, y = fwd(F.col("lon"), F.col("lat"))
    got = df.select("lon", "lat", x.alias("E"), y.alias("N")).collect()
    for r in got:
        eref, nref = _osgb_redfearn_ref(r.lon, r.lat)
        assert abs(r.E - eref) < 5e-3, (r.lon, r.lat)
        assert abs(r.N - nref) < 5e-3, (r.lon, r.lat)

    inv = get_transform("EPSG:27700", "EPSG:4326")
    back = spark.createDataFrame(
        [(r.E, r.N, r.lon, r.lat) for r in got],
        "E double, N double, lon double, lat double")
    for r in apply_transform_df(back, inv, F.col("E"), F.col("N"),
                                "l2", "p2").collect():
        assert abs(r.l2 - r.lon) < 1e-6
        assert abs(r.p2 - r.lat) < 1e-6


def test_tm_registry_roundtrip_and_ellipsoids(spark):
    """Generic national-TM registry (NZTM/TM35FIN/ETRS89-UTM): exact
    round-trips and the GRS80-vs-WGS84 distinction (EPSG:25832 differs
    from EPSG:32632 by the ellipsoid, sub-mm but nonzero)."""

    cases = {"EPSG:2193": [(173.0, -41.0), (168.5, -46.2), (178.2, -37.8)],
             "EPSG:3067": [(27.0, 64.0), (21.5, 60.2), (30.9, 69.5)],
             "EPSG:25832": [(9.0, 51.0), (6.2, 47.5), (11.9, 54.8)]}
    for crs, pts in cases.items():
        fwd = get_transform("EPSG:4326", crs)
        inv = get_transform(crs, "EPSG:4326")
        df = spark.createDataFrame(pts, "lon double, lat double")
        x, y = fwd(F.col("lon"), F.col("lat"))
        proj = df.select("lon", "lat", x.alias("x"), y.alias("y"))
        rows = apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                                  "l2", "p2").collect()
        for r in rows:
            # 3rd-order Krueger truncation: ~1e-4 m, like the UTM path
            assert abs(r.l2 - r.lon) < 1e-8 and abs(r.p2 - r.lat) < 1e-8

    # NZTM natural origin: (173E, 0N) -> the false origin exactly
    fwd = get_transform("EPSG:4326", "EPSG:2193")
    x, y = fwd(F.lit(173.0), F.lit(0.0))
    r = spark.range(1).select(x.alias("x"), y.alias("y")).collect()[0]
    assert abs(r.x - 1_600_000.0) < 1e-6
    assert abs(r.y - 10_000_000.0) < 1e-6

    # GRS80 != WGS84: same parameters, different flattening
    e25832 = get_transform("EPSG:4326", "EPSG:25832")
    e32632 = get_transform("EPSG:4326", "EPSG:32632")
    a = spark.range(1).select(
        e25832(F.lit(9.5), F.lit(50.0))[1].alias("n1"),
        e32632(F.lit(9.5), F.lit(50.0))[1].alias("n2")).collect()[0]
    assert 0.0 < abs(a.n1 - a.n2) < 0.005


# ---- bicubic (order-3) affine upsampling ------------------------------


def _cr_scalar(s):
    s = abs(s)
    if s <= 1:
        return 1.5 * s**3 - 2.5 * s**2 + 1
    if s < 2:
        return -0.5 * s**3 + 2.5 * s**2 - 4 * s + 2
    return 0.0


def test_affine_bicubic_exact_parity_with_independent_kernel(spark):
    """spline_orders=3: 16-neighbor Catmull-Rom gather matches an
    independent scalar reimplementation exactly (1e-9) on a
    deterministic cube, and reproduces source values exactly at
    integer positions (interpolating kernel)."""
    import math as m

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube

    src_grid = CubeGrid(width=12, height=12, time_periods=1,
                        x_start=0.0, y_start=0.0, x_res=1.0, y_res=1.0)
    # deterministic, smoothly varying, not polynomial
    var = {"V": "CAST(sin(0.7 * x_i + 0.3) * 10 + 0.5 * y_i * y_i "
                "+ 0.1 * x_i * y_i AS DOUBLE)"}
    cube = new_cube(spark, src_grid, variables=var)
    src = {(r.y_i, r.x_i): r.V
           for r in cube.select("y_i", "x_i", "V").collect()}

    tgt_grid = CubeGrid(width=12, height=12, time_periods=1,
                        x_start=2.0, y_start=2.0, x_res=0.5, y_res=0.5)
    out = affine_transform_dataset(cube, src_grid, tgt_grid,
                                   var_names=["V"], spline_orders=3)
    got = {(r.y_i, r.x_i): r.V for r in out.collect()}
    assert len(got) == 12 * 12

    for (yi, xi), v in got.items():
        fy = (2.0 + (yi + 0.5) * 0.5) / 1.0 - 0.5
        fx = (2.0 + (xi + 0.5) * 0.5) / 1.0 - 0.5
        y0, x0 = m.floor(fy), m.floor(fx)
        ty, tx = fy - y0, fx - x0
        exp = sum(
            _cr_scalar(dy - ty) * _cr_scalar(dx - tx)
            * src[(y0 + dy, x0 + dx)]
            for dy in (-1, 0, 1, 2) for dx in (-1, 0, 1, 2)
        )
        assert v == pytest.approx(exp, abs=1e-9), (yi, xi)

    # integer-position targets reproduce the source exactly
    aligned = CubeGrid(width=8, height=8, time_periods=1,
                       x_start=2.0, y_start=2.0, x_res=1.0, y_res=1.0)
    out2 = affine_transform_dataset(cube, src_grid, aligned,
                                    var_names=["V"], spline_orders=3)
    for r in out2.collect():
        assert r.V == pytest.approx(src[(r.y_i + 2, r.x_i + 2)], abs=1e-9)


def test_affine_bicubic_quadratic_reproduction(spark):
    """Cubic convolution with a=-0.5 has approximation order 3: a
    quadratic field is reproduced EXACTLY at fractional positions."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube

    src_grid = CubeGrid(width=16, height=16, time_periods=1,
                        x_start=0.0, y_start=0.0, x_res=1.0, y_res=1.0)
    # f(i, j) = i^2 - 2 i j + 3 j (degree 2 in the index coordinates)
    var = {"V": "CAST(x_i * x_i - 2 * x_i * y_i + 3 * y_i AS DOUBLE)"}
    cube = new_cube(spark, src_grid, variables=var)
    tgt_grid = CubeGrid(width=16, height=16, time_periods=1,
                        x_start=3.0, y_start=3.0, x_res=0.5, y_res=0.5)
    out = affine_transform_dataset(cube, src_grid, tgt_grid,
                                   var_names=["V"], spline_orders=3)
    for r in out.collect():
        fx = 3.0 + (r.x_i + 0.5) * 0.5 - 0.5
        fy = 3.0 + (r.y_i + 0.5) * 0.5 - 0.5
        assert r.V == pytest.approx(fx * fx - 2 * fx * fy + 3 * fy,
                                    abs=1e-9), (r.y_i, r.x_i)


def test_affine_spline_order_out_of_range_rejected(spark):
    """Orders 2/4/5 route to the true-B-spline path now; anything
    outside scipy's 0..5 range still raises."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube

    g = CubeGrid(width=4, height=4, time_periods=1)
    cube = new_cube(spark, g, variables={"V": 1.0})
    for order in (-1, 6):
        with pytest.raises(ValueError, match="only 0..5"):
            affine_transform_dataset(cube, g, g, var_names=["V"],
                                     spline_orders=order)


# ---- LCC / Albers / sinusoidal closed forms ---------------------------


def test_lcc_2154_invariants_and_roundtrip(spark):
    """RGF93 / Lambert-93 (EPSG:2154): the projection center maps
    exactly to the false origin; the local scale factor equals 1 on
    both standard parallels (the defining property of the secant
    cone); forward -> inverse round-trips below 1e-9 degrees."""
    import math

    from xcube_spark.operators.resampling.reproject import (
        _E2_G, _R, get_transform)

    fwd = get_transform("EPSG:4326", "EPSG:2154")
    inv = get_transform("EPSG:2154", "EPSG:4326")
    d = 1e-4
    pts = [(3.0, 46.5), (2.3488, 48.8534), (-1.55, 47.2), (7.75, 48.58),
           (3.0, 44.0), (3.0 + d, 44.0), (3.0, 49.0), (3.0 + d, 49.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    x, y = fwd(F.col("lon"), F.col("lat"))
    proj = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    rows = apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                              "lon2", "lat2").collect()
    by = {(r.lon, r.lat): r for r in rows}
    c = by[(3.0, 46.5)]
    assert abs(c.x - 700_000.0) < 1e-6 and abs(c.y - 6_600_000.0) < 1e-6
    for lat_sp in (44.0, 49.0):
        a, b = by[(3.0, lat_sp)], by[(3.0 + d, lat_sp)]
        map_d = math.hypot(b.x - a.x, b.y - a.y)
        s = math.sin(math.radians(lat_sp))
        ground = (_R * math.cos(math.radians(lat_sp))
                  / math.sqrt(1 - _E2_G * s * s) * math.radians(d))
        assert abs(map_d / ground - 1.0) < 1e-9
    for r in rows:
        assert abs(r.lon2 - r.lon) < 1e-9 and abs(r.lat2 - r.lat) < 1e-9


def test_albers_5070_equal_area_and_roundtrip(spark):
    """NAD83 / Conus Albers (EPSG:5070): the numeric Jacobian of the
    forward map equals the ellipsoidal area element everywhere (the
    defining equal-area property), the center maps to (0, 0), and
    forward -> inverse round-trips below 1e-7 degrees."""
    import math

    from xcube_spark.operators.resampling.reproject import (
        _E2_G, _R, get_transform)

    fwd = get_transform("EPSG:4326", "EPSG:5070")
    inv = get_transform("EPSG:5070", "EPSG:4326")
    d = 1e-4
    base = [(-100.0, 40.0), (-80.0, 30.0), (-110.0, 48.0)]
    pts = [(-96.0, 23.0)]
    for lon, lat in base:
        pts += [(lon, lat), (lon + d, lat), (lon, lat + d)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    x, y = fwd(F.col("lon"), F.col("lat"))
    proj = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    rows = apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                              "lon2", "lat2").collect()
    by = {(r.lon, r.lat): r for r in rows}
    c = by[(-96.0, 23.0)]
    assert abs(c.x) < 1e-6 and abs(c.y) < 1e-6
    for lon, lat in base:
        p0, pl, pp = by[(lon, lat)], by[(lon + d, lat)], by[(lon, lat + d)]
        jac = abs((pl.x - p0.x) * (pp.y - p0.y)
                  - (pp.x - p0.x) * (pl.y - p0.y))
        s = math.sin(math.radians(lat))
        m_rad = _R * (1 - _E2_G) / (1 - _E2_G * s * s) ** 1.5
        nu = _R / math.sqrt(1 - _E2_G * s * s)
        area = m_rad * nu * math.cos(math.radians(lat)) * math.radians(d) ** 2
        assert abs(jac / area - 1.0) < 1e-5
    for r in rows:
        assert abs(r.lon2 - r.lon) < 1e-7 and abs(r.lat2 - r.lat) < 1e-7


def test_sinusoidal_modis_analytic(spark):
    """MODIS sinusoidal (ESRI:54008): x = R lam cos(phi), y = R phi —
    checked against the literal closed form and round-tripped."""
    import math

    from xcube_spark.operators.resampling.reproject import get_transform

    R = 6_371_007.181
    fwd = get_transform("EPSG:4326", "ESRI:54008")
    inv = get_transform("ESRI:54008", "EPSG:4326")
    pts = [(90.0, 45.0), (10.0, -30.0), (-120.0, 60.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    x, y = fwd(F.col("lon"), F.col("lat"))
    proj = df.select("lon", "lat", x.alias("x"), y.alias("y"))
    for r in apply_transform_df(proj, inv, F.col("x"), F.col("y"),
                                "lon2", "lat2").collect():
        ex = R * math.radians(r.lon) * math.cos(math.radians(r.lat))
        ey = R * math.radians(r.lat)
        assert abs(r.x - ex) < 1e-6 and abs(r.y - ey) < 1e-6
        assert abs(r.lon2 - r.lon) < 1e-12 and abs(r.lat2 - r.lat) < 1e-12


# ---- true B-spline orders 2/4/5 (resampling/bspline.py) ----------------


def _bspline_numpy_oracle(data, order, fy, fx):
    """Independent restatement: dense np.linalg.solve of the mirror
    coefficient system (vs the module's banded LU) + direct basis
    evaluation — scipy map_coordinates semantics without scipy."""
    import numpy as np

    from xcube_spark.operators.resampling.bspline import BSPLINE_BANDS

    def solve_dense(x):
        band = BSPLINE_BANDS[order]
        p = max(band)
        n = len(x)
        A = np.zeros((n, n))
        for i in range(n):
            for k in range(-p, p + 1):
                w = band.get(abs(k), 0.0)
                if not w:
                    continue
                j = i + k
                while j < 0 or j > n - 1:
                    j = -j if j < 0 else 2 * (n - 1) - j
                A[i, j] += w
        return np.linalg.solve(A, x)

    def basis(s):
        a = abs(s)
        if order == 2:
            if a <= 0.5:
                return 0.75 - a * a
            if a <= 1.5:
                return (a - 1.5) ** 2 / 2
            return 0.0
        if order == 4:
            if a <= 0.5:
                return 115 / 192 - a * a * 5 / 8 + a ** 4 / 4
            if a <= 1.5:
                return (55 + 20 * a - 120 * a * a + 80 * a ** 3
                        - 16 * a ** 4) / 96
            if a <= 2.5:
                return (2.5 - a) ** 4 / 24
            return 0.0
        if order == 5:
            if a <= 1:
                return 11 / 20 - a * a / 2 + a ** 4 / 4 - a ** 5 / 12
            if a <= 2:
                return (17 / 40 + a * 5 / 8 - a * a * 7 / 4
                        + a ** 3 * 5 / 4 - a ** 4 * 3 / 8 + a ** 5 / 24)
            if a <= 3:
                return (3 - a) ** 5 / 120
            return 0.0
        raise ValueError(order)

    import numpy as np
    h, w = data.shape
    c = np.apply_along_axis(solve_dense, 1, data)
    c = np.apply_along_axis(solve_dense, 0, c)
    half = (order + 1) // 2 if order % 2 else order // 2
    anchor = (lambda f: int(np.floor(f))) if order % 2 \
        else (lambda f: int(np.round(f)))
    offs = (range(-(order // 2), order // 2 + 2) if order % 2
            else range(-(order // 2), order // 2 + 1))
    out = np.zeros((len(fy), len(fx)))
    for iy, f_y in enumerate(fy):
        y0 = anchor(f_y)
        for ix, f_x in enumerate(fx):
            x0 = anchor(f_x)
            acc = 0.0
            for dy in offs:
                sy = y0 + dy
                sy = -sy if sy < 0 else (2 * (h - 1) - sy
                                         if sy > h - 1 else sy)
                for dx in offs:
                    sx = x0 + dx
                    sx = -sx if sx < 0 else (2 * (w - 1) - sx
                                             if sx > w - 1 else sx)
                    acc += (basis(dy - (f_y - y0)) * basis(dx - (f_x - x0))
                            * c[sy, sx])
            out[iy, ix] = acc
    return out


def test_bspline_identity_and_upsample_parity(spark):
    """Orders 2/4/5: resampling onto the source grid reproduces the
    input exactly (the interpolation property proves the prefilter
    inverts the basis), and a half-cell-offset upsample matches the
    independent dense-solve oracle at 1e-9."""
    import numpy as np

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.affine import (
        affine_transform_dataset)

    src = CubeGrid(width=16, height=12, time_periods=1, x_res=22.5,
                   y_res=15.0)
    expr = "CAST(sin(y_i * 0.7) * 10 + cos(x_i * 0.3) * 5 AS DOUBLE)"
    cube = new_cube(spark, src, {"A": expr})
    data = np.zeros((12, 16))
    for r in cube.collect():
        data[r["y_i"], r["x_i"]] = r["A"]

    tgt = CubeGrid(width=20, height=16, time_periods=1,
                   x_start=-135.0, y_start=-60.0, x_res=11.25, y_res=7.5)
    # fractional source indices of the target centers (center-aligned)
    fx = [((-135.0 + (i + 0.5) * 11.25) - (-180.0)) / 22.5 - 0.5
          for i in range(20)]
    fy = [((-60.0 + (i + 0.5) * 7.5) - (-90.0)) / 15.0 - 0.5
          for i in range(16)]

    for order in (2, 4, 5):
        ident = affine_transform_dataset(cube, src, src,
                                         spline_orders=order)
        got = {(r["y_i"], r["x_i"]): r["A"] for r in ident.collect()}
        for (yi, xi), v in got.items():
            assert abs(v - data[yi, xi]) < 1e-9, (order, yi, xi)

        up = affine_transform_dataset(cube, src, tgt, spline_orders=order)
        want = _bspline_numpy_oracle(data, order, fy, fx)
        for r in up.collect():
            assert abs(r["A"] - want[r["y_i"], r["x_i"]]) < 1e-9, \
                (order, r["y_i"], r["x_i"])


def test_bspline_mixed_order_families(spark):
    """Per-var spline orders spanning nearest + true-B-spline
    families compose through the join-back path."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.affine import (
        affine_transform_dataset)

    src = CubeGrid(width=12, height=8, time_periods=1, x_res=30.0,
                   y_res=22.5)
    cube = new_cube(spark, src, {
        "A": "CAST(y_i * 12 + x_i AS DOUBLE)",
        "B": "CAST(y_i - x_i AS DOUBLE)"})
    out = affine_transform_dataset(cube, src, src,
                                   spline_orders={"A": 0, "B": 2})
    rows = {(r["y_i"], r["x_i"]): r for r in out.collect()}
    assert len(rows) == 12 * 8
    for (yi, xi), r in rows.items():
        assert r["A"] == yi * 12 + xi
        assert abs(r["B"] - (yi - xi)) < 1e-9


def test_detect_regular_grid_true_and_false(spark):
    """GridMapping.from_coords regularity sniff (gridmapping/coords.py):
    affine 2-D coords -> CubeGrid; curvilinear -> None."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.spatial import detect_regular_grid

    g = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0, y_res=45.0)
    regular = new_cube(spark, g, {"v": 1.0}).withColumns(
        {"lon": F.col("x"), "lat": F.col("y")})
    det = detect_regular_grid(regular)
    assert det is not None
    assert (det.width, det.height) == (8, 4)
    assert det.x_res == pytest.approx(45.0)
    assert det.x_start == pytest.approx(-180.0)
    assert det.y_start == pytest.approx(-90.0)
    assert not det.inverse_y

    # decreasing-lat swath detects with inverse_y
    flipped = new_cube(spark, g, {"v": 1.0}).withColumns(
        {"lon": F.col("x"), "lat": -F.col("y")})
    det2 = detect_regular_grid(flipped)
    assert det2 is not None and det2.inverse_y

    # genuinely curvilinear coords -> None
    curved = new_cube(spark, g, {"v": 1.0}).withColumns(
        {"lon": F.col("x") + 0.1 * F.col("y"), "lat": F.col("y")})
    assert detect_regular_grid(curved) is None
    # missing coord columns -> None
    assert detect_regular_grid(new_cube(spark, g, {"v": 1.0})) is None


def test_resample_irregular_routes_regular_swath_to_affine(spark):
    """A secretly-regular swath resamples WITHOUT the rectify lookup:
    the result must match the plain regular-path output exactly."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.spatial import resample_in_space

    src = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                   y_res=45.0)
    dst = CubeGrid(width=4, height=2, time_periods=1, x_res=90.0,
                   y_res=90.0)
    cube = new_cube(spark, src, {"v": "CAST(x_i + y_i AS DOUBLE)"})
    swath = cube.withColumns({"lon": F.col("x"), "lat": F.col("y")})

    via_sniff = resample_in_space(swath, src, dst, irregular=True)
    via_regular = resample_in_space(cube, src, dst)
    a = sorted(map(tuple, via_sniff.select("y_i", "x_i", "v").collect()))
    b = sorted(map(tuple, via_regular.select("y_i", "x_i", "v").collect()))
    assert a == b and len(a) == dst.width * dst.height


def test_pyproj_fallback_seam_with_stub(spark, monkeypatch):
    """The import-gated pyproj pandas_udf path (reproject.py
    get_transform fallback): simulate pyproj presence with a stub
    Transformer so the seam has coverage before anyone runs it with
    the real library.  The stub applies a known affine; the UDF must
    reproduce it element-wise on executors."""
    import sys
    import types

    import numpy as np
    from pyspark.sql import functions as F

    from xcube_spark.operators.resampling import reproject as rp

    calls = {}

    class _StubTransformer:
        @staticmethod
        def transform(x, y):
            calls["n"] = calls.get("n", 0) + 1
            return x * 2.0 + 10.0, y * -0.5

    fake = types.ModuleType("pyproj")

    class _TransformerFactory:
        @staticmethod
        def from_crs(src, dst, always_xy=False):
            assert always_xy is True
            calls["crs"] = (src, dst)
            return _StubTransformer()

    fake.Transformer = _TransformerFactory
    monkeypatch.setitem(sys.modules, "pyproj", fake)

    # Interrupted Goode homolosine: genuinely outside the
    # closed-form registry (Winkel Tripel, the previous stand-in,
    # joined it in round 9 via the 2-D Newton inverse)
    tf = rp.get_transform("ESRI:54009", "ESRI:54052")
    assert calls["crs"] == ("ESRI:54009", "ESRI:54052")
    df = spark.createDataFrame(
        [(float(i), float(i) * 3.0) for i in range(50)], "px double, py double")
    ox, oy = tf(F.col("px"), F.col("py"))
    rows = df.select("px", "py", ox.alias("ox"), oy.alias("oy")).collect()
    for r in rows:
        assert r.ox == r.px * 2.0 + 10.0
        assert r.oy == r.py * -0.5


def test_pyproj_absent_raises_clear_error(monkeypatch):
    """Without pyproj, an unregistered CRS pair raises
    NotImplementedError naming both the pair and the remedy."""
    import builtins
    import sys

    from xcube_spark.operators.resampling import reproject as rp

    monkeypatch.delitem(sys.modules, "pyproj", raising=False)
    real_import = builtins.__import__

    def no_pyproj(name, *a, **k):
        if name == "pyproj":
            raise ImportError("No module named 'pyproj'")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_pyproj)
    with pytest.raises(NotImplementedError, match="ESRI:54009.*pyproj"):
        rp.get_transform("ESRI:54009", "ESRI:54052")


def test_mollweide_forward_inverse_roundtrip(spark):
    """Mollweide (ESRI:54009): staged Newton forward then closed-form
    inverse must reproduce lon/lat to ~1e-12 deg across the globe, and
    the projection's defining anchors hold (y(+-90) = sqrt(2) R,
    x(+-180, 0) = 2 sqrt(2) R)."""
    import math

    from pyspark.sql import functions as F

    from xcube_spark.operators.resampling.reproject import (
        _MollForward, apply_transform_df, get_transform)

    fwd = _MollForward("ESRI:54009")
    inv = get_transform("ESRI:54009", "EPSG:4326")
    pts = [(float(lon), float(lat))
           for lon in range(-170, 171, 20) for lat in range(-85, 86, 10)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    d = apply_transform_df(df, fwd, F.col("lon"), F.col("lat"),
                           "mx", "my")
    rows = apply_transform_df(d, inv, F.col("mx"), F.col("my"),
                              "rlon", "rlat").collect()
    for r in rows:
        assert abs(r.rlon - r.lon) < 1e-10
        assert abs(r.rlat - r.lat) < 1e-10
    R = 6378137.0
    anchors = spark.createDataFrame(
        [(0.0, 90.0), (0.0, -90.0), (180.0, 0.0)],
        "lon double, lat double")
    a = apply_transform_df(anchors, fwd, F.col("lon"), F.col("lat"),
                           "mx", "my").collect()
    by = {(r.lon, r.lat): r for r in a}
    assert by[(0.0, 90.0)].my == pytest.approx(math.sqrt(2) * R, rel=1e-9)
    assert by[(0.0, -90.0)].my == pytest.approx(-math.sqrt(2) * R,
                                                rel=1e-9)
    assert by[(180.0, 0.0)].mx == pytest.approx(
        2 * math.sqrt(2) / math.pi * R * math.pi, rel=1e-9)


def test_rectify_fractional_no_forced_broadcast_on_large_grid(spark):
    """The fractional ij-lookup is target-plane-sized: a grid past the
    cost cap must NOT carry a forced broadcast hint (AQE may still pick
    one from runtime stats), while a small grid still does."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.rectify import rectify_dataset

    def hint_count(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint")

    src_grid = CubeGrid(width=6, height=4, time_periods=1, x_res=1.0,
                        y_res=1.0, x_start=0.0, y_start=0.0)
    swath = new_cube(spark, src_grid, {"V": 1.0}).withColumns(
        {"lon": F.col("x") + 0.25, "lat": F.col("y") + 0.25})

    small = rectify_dataset(swath, src_grid, var_names=["V"],
                            interpolation="bilinear")
    big_grid = CubeGrid(width=4000, height=4000, time_periods=1, x_res=1.0,
                        y_res=1.0, x_start=0.0, y_start=0.0)
    big = rectify_dataset(swath, big_grid, var_names=["V"],
                          interpolation="bilinear")
    # both plans broadcast the 1-row dims; only the small plan may
    # force-broadcast the lookup
    assert hint_count(small) == hint_count(big) + 1


def test_rectify_nearest_no_forced_broadcast_on_large_grid(spark):
    """Same guard on the nearest path's lookup broadcast."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators.resampling.rectify import rectify_dataset

    src_grid = CubeGrid(width=6, height=4, time_periods=1, x_res=1.0,
                        y_res=1.0, x_start=0.0, y_start=0.0)
    swath = new_cube(spark, src_grid, {"V": 1.0}).withColumns(
        {"lon": F.col("x"), "lat": F.col("y")})
    big_grid = CubeGrid(width=4000, height=4000, time_periods=1, x_res=1.0,
                        y_res=1.0, x_start=0.0, y_start=0.0)
    big = rectify_dataset(swath, big_grid, var_names=["V"])
    plan = big._jdf.queryExecution().analyzed().toString()
    # round 9 PINS the bounded mapped side to shuffle_hash past the
    # broadcast cap (leaving it to the optimizer flip-flopped between
    # SMJ and an erratic runtime broadcast); what must never appear on
    # a large grid is a FORCED BROADCAST of the plane-sized lookup
    assert "strategy=broadcast" not in plan
