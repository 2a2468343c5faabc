"""CRS reprojection — xcube/core/resampling/reproject.py:27-507.

``reproject_dataset``: resample a regular-grid cube in CRS A onto a
regular grid in CRS B.  The reference transforms, per target block, the
target cell centers into the source CRS with pyproj, then gathers the
nearest source pixel (reproject.py:360-430).

Spark mapping: the same **target-driven gather join** as affine, with
the coordinate transform factored out as a pluggable function:

1. synthesize the target cell table (narrow ``spark.range`` projection);
2. transform target (x, y) -> source CRS — either
   - a *pure Column* transform (identity, lon/lat <-> scaled meters
     approximations) that stays inside whole-stage codegen, or
   - a **pandas_udf transform** (Arrow-batched) when real projection
     math is needed.  ``pyproj`` is not installed in this container, so
     the UDF path is gated behind an import-try and ships with
     deterministic pure-numpy transforms for the common cases
     (EPSG:4326 <-> EPSG:3857 Web-Mercator — closed-form math,
     no library needed);
3. compute source indices from the transformed coords (Column math) and
   equi-join the source cells — identical physical shape to affine, so
   the same layout/broadcast reasoning applies.

Scale: the transform is applied to the *target* table (bounded by the
requested output size, usually << source); the join shuffles on source
cell indices which are co-located with the cells-table layout.
"""

from __future__ import annotations

import math
import re
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid

#: (x, y) -> (x', y') as Column expressions
ColumnTransform = Callable[[Column, Column], tuple[Column, Column]]

_R = 6378137.0  # WGS84 spherical radius used by EPSG:3857


def _lonlat_to_mercator(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:4326 -> EPSG:3857, closed-form (no pyproj needed)."""
    mx = x * F.lit(math.pi * _R / 180.0)
    lat = F.when(y > 89.9999, 89.9999).when(y < -89.9999, -89.9999).otherwise(y)
    my = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)) * F.lit(_R)
    return mx, my


def _mercator_to_lonlat(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:3857 -> EPSG:4326, closed-form inverse."""
    lon = x / F.lit(math.pi * _R / 180.0)
    lat = F.degrees(F.atan(F.sinh(y / F.lit(_R))))
    return lon, lat


def _identity(x: Column, y: Column) -> tuple[Column, Column]:
    return x, y


# ---- transverse Mercator / UTM (closed-form Krueger series) -----------
#
# The reference reprojects UTM scenes — the most common satellite
# product CRS — through pyproj (core/gridmapping/transform.py).  pyproj
# is not in this container, so the ellipsoidal transverse-Mercator
# forward/inverse is implemented directly from the published
# Krueger/Karney series (public math; 3rd order in n — truncation error
# ~1e-4 m over the UTM domain, far below any satellite pixel).  Pure
# Column expressions: the whole transform stays inside whole-stage
# codegen, no UDF, no library.

_F_WGS84 = 1.0 / 298.257223563
_N3 = _F_WGS84 / (2.0 - _F_WGS84)  # third flattening n
_E_WGS84 = math.sqrt(_F_WGS84 * (2.0 - _F_WGS84))  # eccentricity
#: rectifying radius A = a/(1+n) (1 + n^2/4 + n^4/64)
_A_RECT = _R / (1.0 + _N3) * (1.0 + _N3 ** 2 / 4.0 + _N3 ** 4 / 64.0)
_K0 = 0.9996
#: Krueger series coefficients (3rd order in n)
_ALPHA = (
    _N3 / 2.0 - 2.0 * _N3 ** 2 / 3.0 + 5.0 * _N3 ** 3 / 16.0,
    13.0 * _N3 ** 2 / 48.0 - 3.0 * _N3 ** 3 / 5.0,
    61.0 * _N3 ** 3 / 240.0,
)
_BETA = (
    _N3 / 2.0 - 2.0 * _N3 ** 2 / 3.0 + 37.0 * _N3 ** 3 / 96.0,
    _N3 ** 2 / 48.0 + _N3 ** 3 / 15.0,
    17.0 * _N3 ** 3 / 480.0,
)
_DELTA = (
    2.0 * _N3 - 2.0 * _N3 ** 2 / 3.0 - 2.0 * _N3 ** 3,
    7.0 * _N3 ** 2 / 3.0 - 8.0 * _N3 ** 3 / 5.0,
    56.0 * _N3 ** 3 / 15.0,
)

_UTM_RE = re.compile(r"^EPSG:32([67])(\d\d)$")


def parse_utm_crs(crs: str) -> tuple[int, bool] | None:
    """'EPSG:326NN'/'EPSG:327NN' -> (zone, south) or None."""
    m = _UTM_RE.match(crs.upper())
    if not m:
        return None
    zone = int(m.group(2))
    if not 1 <= zone <= 60:
        return None
    return zone, m.group(1) == "7"


def utm_crs(zone: int, south: bool = False) -> str:
    return f"EPSG:32{7 if south else 6}{zone:02d}"


def _utm_lon0(zone: int) -> float:
    return float(zone * 6 - 183)


def _lonlat_to_utm_fn(zone: int, south: bool) -> ColumnTransform:
    lon0 = _utm_lon0(zone)
    fn = 10_000_000.0 if south else 0.0

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(lon0))
        phi = F.radians(lat)
        sphi = F.sin(phi)
        t = F.sinh(F.atanh(sphi) - F.lit(_E_WGS84)
                   * F.atanh(F.lit(_E_WGS84) * sphi))
        clam = F.cos(lam)
        xip = F.atan2(t, clam)
        etap = F.asinh(F.sin(lam) / F.sqrt(t * t + clam * clam))
        xi, eta = xip, etap
        for j, a in enumerate(_ALPHA, start=1):
            xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * xip) \
                * F.cosh(F.lit(2.0 * j) * etap)
            eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * xip) \
                * F.sinh(F.lit(2.0 * j) * etap)
        x = F.lit(_K0 * _A_RECT) * eta + F.lit(500_000.0)
        y = F.lit(_K0 * _A_RECT) * xi + F.lit(fn)
        return x, y

    return fwd


def _utm_inverse_spark_sql(x: str, y: str, zone: int,
                           south: bool) -> tuple[str, str]:
    """The inverse series as ONE Spark-SQL string per output — the
    op-for-op twin of ``_utm_to_lonlat_fn``'s Column tree (same
    sinh/cosh built-ins, same literal folds, same association), so the
    parsed expression is IDENTICAL and so are the doubles.  One
    server-side parse replaces ~400 Column-API py4j round trips per
    plan build (r12 optimization round; ema_smooth precedent)."""
    lon0 = _utm_lon0(zone)
    fn = 10_000_000.0 if south else 0.0
    k = f"{_K0 * _A_RECT!r}D"
    xi = f"((({y}) - {fn!r}D) / {k})"
    eta = f"((({x}) - 500000.0D) / {k})"
    xip, etap = xi, eta
    for j, b in enumerate(_BETA, start=1):
        xip = (f"({xip} - {b!r}D * sin({2.0 * j!r}D * {xi}) "
               f"* cosh({2.0 * j!r}D * {eta}))")
        etap = (f"({etap} - {b!r}D * cos({2.0 * j!r}D * {xi}) "
                f"* sinh({2.0 * j!r}D * {eta}))")
    chi = f"asin(sin({xip}) / cosh({etap}))"
    phi = chi
    for j, d in enumerate(_DELTA, start=1):
        phi = f"({phi} + {d!r}D * sin({2.0 * j!r}D * {chi}))"
    lam = f"atan2(sinh({etap}), cos({xip}))"
    return f"({lon0!r}D + degrees({lam}))", f"degrees({phi})"


def _utm_to_lonlat_fn(zone: int, south: bool) -> ColumnTransform:
    lon0 = _utm_lon0(zone)
    fn = 10_000_000.0 if south else 0.0

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xi = (y - F.lit(fn)) / F.lit(_K0 * _A_RECT)
        eta = (x - F.lit(500_000.0)) / F.lit(_K0 * _A_RECT)
        xip, etap = xi, eta
        for j, b in enumerate(_BETA, start=1):
            xip = xip - F.lit(b) * F.sin(F.lit(2.0 * j) * xi) \
                * F.cosh(F.lit(2.0 * j) * eta)
            etap = etap - F.lit(b) * F.cos(F.lit(2.0 * j) * xi) \
                * F.sinh(F.lit(2.0 * j) * eta)
        chi = F.asin(F.sin(xip) / F.cosh(etap))
        phi = chi
        for j, d in enumerate(_DELTA, start=1):
            phi = phi + F.lit(d) * F.sin(F.lit(2.0 * j) * chi)
        lam = F.atan2(F.sinh(etap), F.cos(xip))
        return F.lit(lon0) + F.degrees(lam), F.degrees(phi)

    inv.sql_fn = lambda xs, ys: _utm_inverse_spark_sql(xs, ys, zone, south)
    return inv


def utm_inverse_sql(x_expr: str, y_expr: str, zone: int,
                    south: bool = False) -> tuple[str, str]:
    """The SAME inverse series as SQL strings (for DuckDB oracles):
    sinh/cosh written as exp-halves, asin/atan2 as built-ins.  Returns
    (lon_sql, lat_sql)."""
    lon0 = _utm_lon0(zone)
    fn = 10_000_000.0 if south else 0.0
    k = repr(_K0 * _A_RECT)
    xi = f"(({y_expr}) - {fn!r}) / {k}"
    eta = f"(({x_expr}) - 500000.0) / {k}"

    def sinh(z):
        return f"((exp({z}) - exp(-({z}))) / 2)"

    def cosh(z):
        return f"((exp({z}) + exp(-({z}))) / 2)"

    xip, etap = xi, eta
    for j, b in enumerate(_BETA, start=1):
        xip = f"({xip} - {b!r} * sin(2.0 * {j} * ({xi})) " \
              f"* {cosh(f'2.0 * {j} * ({eta})')})"
        etap = f"({etap} - {b!r} * cos(2.0 * {j} * ({xi})) " \
               f"* {sinh(f'2.0 * {j} * ({eta})')})"
    chi = f"asin(sin({xip}) / {cosh(etap)})"
    phi = chi
    for j, d in enumerate(_DELTA, start=1):
        phi = f"({phi} + {d!r} * sin(2.0 * {j} * ({chi})))"
    lam = f"atan2({sinh(etap)}, cos({xip}))"
    return f"({lon0!r} + degrees({lam}))", f"degrees({phi})"


# ---- OSGB National Grid (EPSG:27700) ----------------------------------
#
# The British national CRS the reference reaches through pyproj: a
# transverse Mercator with false origin on the AIRY 1830 ellipsoid in
# the OSGB36 datum.  Two public-math pieces compose it, both as pure
# Column arithmetic:
#   * the same Krueger/Karney TM series as UTM above, re-derived for
#     Airy's third flattening (the series coefficients are functions
#     of n only — `_tm_series`), with the EPSG:27700 natural origin
#     (49N, 2W, k0=0.9996012717, FE=400km, FN=-100km);
#   * the WGS84/ETRS89 <-> OSGB36 datum hop: geodetic -> geocentric
#     XYZ, the published 7-parameter Helmert (OS "A guide to
#     coordinate systems in Great Britain", annex; position-vector
#     convention), and Bowring's closed-form XYZ -> geodetic.
# Single-Helmert accuracy vs the OSTN15 grid shift is the documented
# ~3-5 m — the standard non-grid approximation.

def _tm_series(f: float):
    """Krueger 3rd-order TM series for an ellipsoid of flattening f:
    (alpha, beta, delta, A/a rectifying ratio)."""
    n = f / (2.0 - f)
    alpha = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0,
        13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0,
        61.0 * n ** 3 / 240.0,
    )
    beta = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0,
        n ** 2 / 48.0 + n ** 3 / 15.0,
        17.0 * n ** 3 / 480.0,
    )
    delta = (
        2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3,
        7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0,
        56.0 * n ** 3 / 15.0,
    )
    ar = (1.0 + n ** 2 / 4.0 + n ** 4 / 64.0) / (1.0 + n)
    return alpha, beta, delta, ar


_AIRY_A = 6_377_563.396
_AIRY_F = 1.0 / 299.3249646
_AIRY_E = math.sqrt(_AIRY_F * (2.0 - _AIRY_F))
_AIRY_B = _AIRY_A * (1.0 - _AIRY_F)
_AIRY_EP2 = (_AIRY_A ** 2 - _AIRY_B ** 2) / _AIRY_B ** 2
_AIRY_ALPHA, _AIRY_BETA, _AIRY_DELTA, _airy_ar = _tm_series(_AIRY_F)
_AIRY_AR = _AIRY_A * _airy_ar

_WGS_A = _R
_WGS_E2 = _E_WGS84 ** 2
_WGS_B = _WGS_A * (1.0 - _F_WGS84)
_WGS_EP2 = (_WGS_A ** 2 - _WGS_B ** 2) / _WGS_B ** 2

_OSGB_K0 = 0.9996012717
_OSGB_LON0 = -2.0
_OSGB_LAT0 = 49.0
_OSGB_FE = 400_000.0
_OSGB_FN = -100_000.0
#: WGS84/ETRS89 -> OSGB36 Helmert (tx, ty, tz [m]; rx, ry, rz [rad];
#: s [unitless]) — position-vector convention
_OSGB_HELM = (
    -446.448, 125.157, -542.060,
    math.radians(-0.1502 / 3600.0),
    math.radians(-0.2470 / 3600.0),
    math.radians(-0.8421 / 3600.0),
    20.4894e-6,
)


def _tm_xi_scalar(phi: float, e: float, alpha: tuple) -> float:
    """Rectifying latitude xi of phi at the central meridian (scalar,
    for the false-northing constant)."""
    t = math.sinh(math.atanh(math.sin(phi))
                  - e * math.atanh(e * math.sin(phi)))
    xip = math.atan(t)
    return xip + sum(a * math.sin(2.0 * j * xip)
                     for j, a in enumerate(alpha, start=1))


#: northing offset: FN - k0 * M(lat0)
_OSGB_Y0 = _OSGB_FN - _OSGB_K0 * _AIRY_AR * _tm_xi_scalar(
    math.radians(_OSGB_LAT0), _AIRY_E, _AIRY_ALPHA)


def _osgb_tm_fwd(lam_a: Column, phi_a: Column) -> tuple[Column, Column]:
    """Airy-TM forward: OSGB36 geodetic radians -> (easting, northing).
    Exposed separately so tests can pin the OS worked example without
    the datum hop."""
    lam = lam_a - F.lit(math.radians(_OSGB_LON0))
    sphi = F.sin(phi_a)
    t = F.sinh(F.atanh(sphi) - F.lit(_AIRY_E)
               * F.atanh(F.lit(_AIRY_E) * sphi))
    clam = F.cos(lam)
    xip = F.atan2(t, clam)
    etap = F.asinh(F.sin(lam) / F.sqrt(t * t + clam * clam))
    xi, eta = xip, etap
    for j, a in enumerate(_AIRY_ALPHA, start=1):
        xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * xip) \
            * F.cosh(F.lit(2.0 * j) * etap)
        eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * xip) \
            * F.sinh(F.lit(2.0 * j) * etap)
    x = F.lit(_OSGB_K0 * _AIRY_AR) * eta + F.lit(_OSGB_FE)
    y = F.lit(_OSGB_K0 * _AIRY_AR) * xi + F.lit(_OSGB_Y0)
    return x, y


def _geodetic_to_xyz(lam: Column, phi: Column, a: float,
                     e2: float) -> tuple[Column, Column, Column]:
    sp, cp = F.sin(phi), F.cos(phi)
    nu = F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(e2) * sp * sp)
    return (nu * cp * F.cos(lam), nu * cp * F.sin(lam),
            nu * F.lit(1.0 - e2) * sp)


def _xyz_to_geodetic(x: Column, y: Column, z: Column, a: float, b: float,
                     e2: float, ep2: float) -> tuple[Column, Column]:
    """Bowring's closed-form (single-shot, mm-accurate near the
    surface): returns (lam, phi) in radians."""
    p = F.sqrt(x * x + y * y)
    th = F.atan2(z * F.lit(a), p * F.lit(b))
    phi = F.atan2(z + F.lit(ep2 * b) * F.pow(F.sin(th), F.lit(3.0)),
                  p - F.lit(e2 * a) * F.pow(F.cos(th), F.lit(3.0)))
    return F.atan2(y, x), phi


def _helmert(x: Column, y: Column, z: Column,
             params: tuple) -> tuple[Column, Column, Column]:
    tx, ty, tz, rx, ry, rz, s = params
    m = 1.0 + s
    return (
        F.lit(tx) + F.lit(m) * x - F.lit(rz) * y + F.lit(ry) * z,
        F.lit(ty) + F.lit(rz) * x + F.lit(m) * y - F.lit(rx) * z,
        F.lit(tz) - F.lit(ry) * x + F.lit(rx) * y + F.lit(m) * z,
    )


_OSGB_HELM_INV = tuple(-v for v in _OSGB_HELM)


class StagedTransform:
    """A CRS transform evaluated in NAMED stages.

    Deeply-composed transforms (datum hop + Bowring + TM series) blow
    up exponentially when written as one Column tree: every reuse of a
    subexpression copies its whole subtree, and a 2-of-them-deep chain
    reaches megabyte plans (tens of seconds of Catalyst/codegen per
    query — measured on EPSG:27700).  Staging materializes each
    intermediate as an aliased projection column instead; Catalyst's
    CollapseProject keeps multiply-referenced non-trivial aliases as
    separate projections, so the plan stays linear in the number of
    stage expressions.

    ``stages``: list of dicts ``name -> fn(env)`` where ``env`` maps
    previously-defined names (plus ``__in_x``/``__in_y``) to Columns.
    The last stage must define ``__out_x`` and ``__out_y``.

    Calling the transform like a plain ``ColumnTransform`` still
    composes the full inline tree (fine for a handful of rows in
    tests); ``apply_df`` is the production path.
    """

    def __init__(self, stages: list[dict]):
        self.stages = stages

    def __call__(self, x: Column, y: Column) -> tuple[Column, Column]:
        env = {"__in_x": x, "__in_y": y}
        for stage in self.stages:
            env.update({n: fn(env) for n, fn in stage.items()})
        return env["__out_x"], env["__out_y"]

    def apply_df(self, df, x_expr: Column, y_expr: Column,
                 out_x: str, out_y: str):
        names = ["__in_x", "__in_y"]
        df = df.withColumns({"__in_x": x_expr, "__in_y": y_expr})
        for stage in self.stages:
            env = {n: F.col(n) for n in names}
            df = df.withColumns({n: fn(env) for n, fn in stage.items()})
            names += list(stage)
        df = df.withColumns({out_x: F.col("__out_x"),
                             out_y: F.col("__out_y")})
        return df.drop(*names)


def apply_transform_df(df, transform, x_expr: Column, y_expr: Column,
                       out_x: str, out_y: str):
    """Apply a transform onto a DataFrame, staged when it supports it."""
    if hasattr(transform, "apply_df"):
        return transform.apply_df(df, x_expr, y_expr, out_x, out_y)
    sx, sy = transform(x_expr, y_expr)
    return df.withColumns({out_x: sx, out_y: sy})


class _ChainedTransform:
    """4326-hop composition where at least one leg is staged."""

    def __init__(self, to_ll, from_ll):
        self.to_ll, self.from_ll = to_ll, from_ll

    def __call__(self, x: Column, y: Column) -> tuple[Column, Column]:
        return self.from_ll(*self.to_ll(x, y))

    def apply_df(self, df, x_expr, y_expr, out_x: str, out_y: str):
        df = apply_transform_df(df, self.to_ll, x_expr, y_expr,
                                "__mid_x", "__mid_y")
        df = apply_transform_df(df, self.from_ll, F.col("__mid_x"),
                                F.col("__mid_y"), out_x, out_y)
        return df.drop("__mid_x", "__mid_y")


def _osgb_tm_fwd_stages() -> list[dict]:
    """Airy-TM forward as stages: env __lam_a/__phi_a -> E/N."""
    k = _OSGB_K0 * _AIRY_AR

    def s1(env):
        return {
            "__tlam": env["__lam_a"] - F.lit(math.radians(_OSGB_LON0)),
            "__tsp": F.sin(env["__phi_a"]),
        }

    def s2(env):
        return {"__tt": F.sinh(F.atanh(env["__tsp"]) - F.lit(_AIRY_E)
                               * F.atanh(F.lit(_AIRY_E) * env["__tsp"])),
                "__tcl": F.cos(env["__tlam"])}

    def s3(env):
        return {
            "__txip": F.atan2(env["__tt"], env["__tcl"]),
            "__tetap": F.asinh(F.sin(env["__tlam"]) / F.sqrt(
                env["__tt"] * env["__tt"]
                + env["__tcl"] * env["__tcl"])),
        }

    def s4(env):
        xi, eta = env["__txip"], env["__tetap"]
        for j, a in enumerate(_AIRY_ALPHA, start=1):
            xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * env["__txip"]) \
                * F.cosh(F.lit(2.0 * j) * env["__tetap"])
            eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * env["__txip"]) \
                * F.sinh(F.lit(2.0 * j) * env["__tetap"])
        return {"__out_x": F.lit(k) * eta + F.lit(_OSGB_FE),
                "__out_y": F.lit(k) * xi + F.lit(_OSGB_Y0)}

    def pick(fn, name):
        return lambda env: fn(env)[name]

    return [
        {"__tlam": pick(s1, "__tlam"), "__tsp": pick(s1, "__tsp")},
        {"__tt": pick(s2, "__tt"), "__tcl": pick(s2, "__tcl")},
        {"__txip": pick(s3, "__txip"), "__tetap": pick(s3, "__tetap")},
        {"__out_x": pick(s4, "__out_x"), "__out_y": pick(s4, "__out_y")},
    ]


def _lonlat_to_osgb_fn() -> "StagedTransform":
    h = _OSGB_HELM
    e2a = _AIRY_E ** 2

    stages = [
        {"__lam": lambda env: F.radians(env["__in_x"]),
         "__phi": lambda env: F.radians(env["__in_y"])},
        {"__sp": lambda env: F.sin(env["__phi"]),
         "__cp": lambda env: F.cos(env["__phi"])},
        {"__nu": lambda env: F.lit(_WGS_A) / F.sqrt(
            F.lit(1.0) - F.lit(_WGS_E2) * env["__sp"] * env["__sp"])},
        {"__X": lambda env: env["__nu"] * env["__cp"]
            * F.cos(env["__lam"]),
         "__Y": lambda env: env["__nu"] * env["__cp"]
            * F.sin(env["__lam"]),
         "__Z": lambda env: env["__nu"] * F.lit(1.0 - _WGS_E2)
            * env["__sp"]},
        {"__Xo": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], h)[0],
         "__Yo": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], h)[1],
         "__Zo": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], h)[2]},
        {"__p": lambda env: F.sqrt(
            env["__Xo"] * env["__Xo"] + env["__Yo"] * env["__Yo"])},
        {"__th": lambda env: F.atan2(env["__Zo"] * F.lit(_AIRY_A),
                                     env["__p"] * F.lit(_AIRY_B))},
        {"__phi_a": lambda env: F.atan2(
            env["__Zo"] + F.lit(_AIRY_EP2 * _AIRY_B)
            * F.pow(F.sin(env["__th"]), F.lit(3.0)),
            env["__p"] - F.lit(e2a * _AIRY_A)
            * F.pow(F.cos(env["__th"]), F.lit(3.0))),
         "__lam_a": lambda env: F.atan2(env["__Yo"], env["__Xo"])},
    ] + _osgb_tm_fwd_stages()
    return StagedTransform(stages)


def _osgb_to_lonlat_fn() -> "StagedTransform":
    k = _OSGB_K0 * _AIRY_AR
    e2a = _AIRY_E ** 2
    hinv = _OSGB_HELM_INV

    def series_xip(env):
        xip = env["__xi"]
        for j, b in enumerate(_AIRY_BETA, start=1):
            xip = xip - F.lit(b) * F.sin(F.lit(2.0 * j) * env["__xi"]) \
                * F.cosh(F.lit(2.0 * j) * env["__eta"])
        return xip

    def series_etap(env):
        etap = env["__eta"]
        for j, b in enumerate(_AIRY_BETA, start=1):
            etap = etap - F.lit(b) * F.cos(F.lit(2.0 * j) * env["__xi"]) \
                * F.sinh(F.lit(2.0 * j) * env["__eta"])
        return etap

    def series_phi(env):
        phi_a = env["__chi"]
        for j, d in enumerate(_AIRY_DELTA, start=1):
            phi_a = phi_a + F.lit(d) * F.sin(F.lit(2.0 * j) * env["__chi"])
        return phi_a

    stages = [
        {"__xi": lambda env: (env["__in_y"] - F.lit(_OSGB_Y0)) / F.lit(k),
         "__eta": lambda env: (env["__in_x"] - F.lit(_OSGB_FE))
            / F.lit(k)},
        {"__xip": series_xip, "__etap": series_etap},
        {"__chi": lambda env: F.asin(
            F.sin(env["__xip"]) / F.cosh(env["__etap"]))},
        {"__phi_a": series_phi,
         "__lam_a": lambda env: F.lit(math.radians(_OSGB_LON0))
            + F.atan2(F.sinh(env["__etap"]), F.cos(env["__xip"]))},
        {"__sp": lambda env: F.sin(env["__phi_a"]),
         "__cp": lambda env: F.cos(env["__phi_a"])},
        {"__nu": lambda env: F.lit(_AIRY_A) / F.sqrt(
            F.lit(1.0) - F.lit(e2a) * env["__sp"] * env["__sp"])},
        {"__X": lambda env: env["__nu"] * env["__cp"]
            * F.cos(env["__lam_a"]),
         "__Y": lambda env: env["__nu"] * env["__cp"]
            * F.sin(env["__lam_a"]),
         "__Z": lambda env: env["__nu"] * F.lit(1.0 - e2a)
            * env["__sp"]},
        {"__Xw": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], hinv)[0],
         "__Yw": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], hinv)[1],
         "__Zw": lambda env: _helmert(
            env["__X"], env["__Y"], env["__Z"], hinv)[2]},
        {"__p": lambda env: F.sqrt(
            env["__Xw"] * env["__Xw"] + env["__Yw"] * env["__Yw"])},
        {"__th": lambda env: F.atan2(env["__Zw"] * F.lit(_WGS_A),
                                     env["__p"] * F.lit(_WGS_B))},
        {"__out_x": lambda env: F.degrees(
            F.atan2(env["__Yw"], env["__Xw"])),
         "__out_y": lambda env: F.degrees(F.atan2(
            env["__Zw"] + F.lit(_WGS_EP2 * _WGS_B)
            * F.pow(F.sin(env["__th"]), F.lit(3.0)),
            env["__p"] - F.lit(_WGS_E2 * _WGS_A)
            * F.pow(F.cos(env["__th"]), F.lit(3.0))))},
    ]
    return StagedTransform(stages)


def osgb_inverse_sql_ctes(x_expr: str, y_expr: str,
                          src: str = "tgt") -> str:
    """The EPSG:27700 inverse as a chain of CTEs over ``src`` —
    identical arithmetic to the staged Column transform, one aliased
    column per intermediate (the monolithic expression form is
    megabytes of SQL and costs seconds of parse time per query).
    Emits CTEs ``o1..o9`` and finally ``osgb_ll`` = ``src`` columns +
    ``lon``/``lat``."""
    k = repr(_OSGB_K0 * _AIRY_AR)

    def sinh(z):
        return f"((exp({z}) - exp(-({z}))) / 2)"

    def cosh(z):
        return f"((exp({z}) + exp(-({z}))) / 2)"

    xip = "__xi"
    etap = "__eta"
    for j, b in enumerate(_AIRY_BETA, start=1):
        xip = f"({xip} - {b!r} * sin(2.0 * {j} * __xi) " \
              f"* {cosh(f'2.0 * {j} * __eta')})"
        etap = f"({etap} - {b!r} * cos(2.0 * {j} * __xi) " \
               f"* {sinh(f'2.0 * {j} * __eta')})"
    phia = "__chi"
    for j, d in enumerate(_AIRY_DELTA, start=1):
        phia = f"({phia} + {d!r} * sin(2.0 * {j} * (__chi)))"
    e2a = _AIRY_E ** 2
    tx, ty, tz, rx, ry, rz, s = _OSGB_HELM_INV
    m = repr(1.0 + s)
    return f"""o1 AS (
            SELECT *, ((({y_expr}) - {_OSGB_Y0!r}) / {k}) AS __xi,
                      ((({x_expr}) - {_OSGB_FE!r}) / {k}) AS __eta
            FROM {src}
        ), o2 AS (
            SELECT *, {xip} AS __xip, {etap} AS __etap FROM o1
        ), o3 AS (
            SELECT *, asin(sin(__xip) / {cosh('__etap')}) AS __chi
            FROM o2
        ), o4 AS (
            SELECT *, {phia} AS __phia,
                   ({math.radians(_OSGB_LON0)!r}
                    + atan2({sinh('__etap')}, cos(__xip))) AS __lama
            FROM o3
        ), o5 AS (
            SELECT *, sin(__phia) AS __sp, cos(__phia) AS __cp FROM o4
        ), o6 AS (
            SELECT *, ({_AIRY_A!r} / sqrt(1.0 - {e2a!r} * __sp * __sp))
                      AS __nu
            FROM o5
        ), o7 AS (
            SELECT *, (__nu * __cp * cos(__lama)) AS __X,
                      (__nu * __cp * sin(__lama)) AS __Y,
                      (__nu * {1.0 - e2a!r} * __sp) AS __Z
            FROM o6
        ), o8 AS (
            SELECT *, ({tx!r} + {m} * __X - {rz!r} * __Y + {ry!r} * __Z)
                      AS __Xw,
                      ({ty!r} + {rz!r} * __X + {m} * __Y - {rx!r} * __Z)
                      AS __Yw,
                      ({tz!r} - {ry!r} * __X + {rx!r} * __Y + {m} * __Z)
                      AS __Zw
            FROM o7
        ), o9 AS (
            SELECT *, sqrt(__Xw * __Xw + __Yw * __Yw) AS __p FROM o8
        ), o10 AS (
            SELECT *, atan2(__Zw * {_WGS_A!r}, __p * {_WGS_B!r}) AS __th
            FROM o9
        ), osgb_ll AS (
            SELECT * EXCLUDE (__xi, __eta, __xip, __etap, __chi,
                              __phia, __lama, __sp, __cp, __nu,
                              __X, __Y, __Z, __Xw, __Yw, __Zw,
                              __p, __th),
                   degrees(atan2(__Yw, __Xw)) AS lon,
                   degrees(atan2(
                       __Zw + {_WGS_EP2 * _WGS_B!r} * pow(sin(__th), 3),
                       __p - {_WGS_E2 * _WGS_A!r} * pow(cos(__th), 3)))
                   AS lat
            FROM o10
        )"""


def osgb_inverse_sql(x_expr: str, y_expr: str) -> tuple[str, str]:
    """The SAME EPSG:27700 inverse as SQL strings (for DuckDB
    oracles): TM-inverse series on Airy, geodetic -> XYZ, inverse
    Helmert, Bowring back to WGS84.  Returns (lon_sql, lat_sql)."""
    k = repr(_OSGB_K0 * _AIRY_AR)
    xi = f"((({y_expr}) - {_OSGB_Y0!r}) / {k})"
    eta = f"((({x_expr}) - {_OSGB_FE!r}) / {k})"

    def sinh(z):
        return f"((exp({z}) - exp(-({z}))) / 2)"

    def cosh(z):
        return f"((exp({z}) + exp(-({z}))) / 2)"

    xip, etap = xi, eta
    for j, b in enumerate(_AIRY_BETA, start=1):
        xip = f"({xip} - {b!r} * sin(2.0 * {j} * {xi}) " \
              f"* {cosh(f'2.0 * {j} * {eta}')})"
        etap = f"({etap} - {b!r} * cos(2.0 * {j} * {xi}) " \
               f"* {sinh(f'2.0 * {j} * {eta}')})"
    chi = f"asin(sin({xip}) / {cosh(etap)})"
    phi_a = chi
    for j, d in enumerate(_AIRY_DELTA, start=1):
        phi_a = f"({phi_a} + {d!r} * sin(2.0 * {j} * ({chi})))"
    lam_a = f"({math.radians(_OSGB_LON0)!r} " \
            f"+ atan2({sinh(etap)}, cos({xip})))"
    # Airy geodetic -> XYZ
    e2a = _AIRY_E ** 2
    nu = f"({_AIRY_A!r} / sqrt(1.0 - {e2a!r} * sin({phi_a}) " \
         f"* sin({phi_a})))"
    X = f"({nu} * cos({phi_a}) * cos({lam_a}))"
    Y = f"({nu} * cos({phi_a}) * sin({lam_a}))"
    Z = f"({nu} * {1.0 - e2a!r} * sin({phi_a}))"
    tx, ty, tz, rx, ry, rz, s = _OSGB_HELM_INV
    m = repr(1.0 + s)
    Xw = f"({tx!r} + {m} * {X} - {rz!r} * {Y} + {ry!r} * {Z})"
    Yw = f"({ty!r} + {rz!r} * {X} + {m} * {Y} - {rx!r} * {Z})"
    Zw = f"({tz!r} + (-({ry!r})) * {X} + {rx!r} * {Y} + {m} * {Z})"
    p = f"sqrt({Xw} * {Xw} + {Yw} * {Yw})"
    th = f"atan2({Zw} * {_WGS_A!r}, {p} * {_WGS_B!r})"
    phi = f"atan2({Zw} + {_WGS_EP2 * _WGS_B!r} * pow(sin({th}), 3), " \
          f"{p} - {_WGS_E2 * _WGS_A!r} * pow(cos({th}), 3))"
    return f"degrees(atan2({Yw}, {Xw}))", f"degrees({phi})"


# ---- generic national transverse-Mercator grids -----------------------
#
# TM-based national CRSs on modern geocentric datums (NZGD2000, ETRS89
# — both coincident with WGS84 at the accuracy relevant here, per the
# standard null transformation): the SAME Krueger machinery as UTM and
# OSGB, parameterized by (ellipsoid, natural origin).  No datum hop,
# so the inline expression stays UTM-sized.

_GRS80_A = 6_378_137.0
_GRS80_F = 1.0 / 298.257222101

#: crs -> (a, f, lat0, lon0, k0, false easting, false northing)
TM_PARAMS: dict[str, tuple] = {
    # NZGD2000 / New Zealand Transverse Mercator 2000
    "EPSG:2193": (_GRS80_A, _GRS80_F, 0.0, 173.0, 0.9996,
                  1_600_000.0, 10_000_000.0),
    # ETRS89 / TM35FIN (Finland)
    "EPSG:3067": (_GRS80_A, _GRS80_F, 0.0, 27.0, 0.9996,
                  500_000.0, 0.0),
    # ETRS89 / UTM zones 32N + 33N (the GRS80 twins of EPSG:326xx)
    "EPSG:25832": (_GRS80_A, _GRS80_F, 0.0, 9.0, 0.9996,
                   500_000.0, 0.0),
    "EPSG:25833": (_GRS80_A, _GRS80_F, 0.0, 15.0, 0.9996,
                   500_000.0, 0.0),
}


def _tm_consts(crs: str) -> dict:
    a, f, lat0, lon0, k0, fe, fn = TM_PARAMS[crs.upper()]
    e = math.sqrt(f * (2.0 - f))
    alpha, beta, delta, ar = _tm_series(f)
    rect = a * ar
    y0 = fn - k0 * rect * _tm_xi_scalar(math.radians(lat0), e, alpha)
    return dict(e=e, alpha=alpha, beta=beta, delta=delta, k=k0 * rect,
                lon0=lon0, fe=fe, y0=y0)


def _lonlat_to_tm_fn(crs: str) -> ColumnTransform:
    c = _tm_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        sphi = F.sin(phi)
        t = F.sinh(F.atanh(sphi) - F.lit(c["e"])
                   * F.atanh(F.lit(c["e"]) * sphi))
        clam = F.cos(lam)
        xip = F.atan2(t, clam)
        etap = F.asinh(F.sin(lam) / F.sqrt(t * t + clam * clam))
        xi, eta = xip, etap
        for j, a in enumerate(c["alpha"], start=1):
            xi = xi + F.lit(a) * F.sin(F.lit(2.0 * j) * xip) \
                * F.cosh(F.lit(2.0 * j) * etap)
            eta = eta + F.lit(a) * F.cos(F.lit(2.0 * j) * xip) \
                * F.sinh(F.lit(2.0 * j) * etap)
        return (F.lit(c["k"]) * eta + F.lit(c["fe"]),
                F.lit(c["k"]) * xi + F.lit(c["y0"]))

    return fwd


def _tm_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _tm_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xi = (y - F.lit(c["y0"])) / F.lit(c["k"])
        eta = (x - F.lit(c["fe"])) / F.lit(c["k"])
        xip, etap = xi, eta
        for j, b in enumerate(c["beta"], start=1):
            xip = xip - F.lit(b) * F.sin(F.lit(2.0 * j) * xi) \
                * F.cosh(F.lit(2.0 * j) * eta)
            etap = etap - F.lit(b) * F.cos(F.lit(2.0 * j) * xi) \
                * F.sinh(F.lit(2.0 * j) * eta)
        chi = F.asin(F.sin(xip) / F.cosh(etap))
        phi = chi
        for j, d in enumerate(c["delta"], start=1):
            phi = phi + F.lit(d) * F.sin(F.lit(2.0 * j) * chi)
        lam = F.atan2(F.sinh(etap), F.cos(xip))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def tm_inverse_sql(x_expr: str, y_expr: str,
                   crs: str) -> tuple[str, str]:
    """The SAME generic-TM inverse as SQL strings (DuckDB oracles)."""
    c = _tm_consts(crs)
    k = repr(c["k"])
    xi = f"((({y_expr}) - {c['y0']!r}) / {k})"
    eta = f"((({x_expr}) - {c['fe']!r}) / {k})"

    def sinh(z):
        return f"((exp({z}) - exp(-({z}))) / 2)"

    def cosh(z):
        return f"((exp({z}) + exp(-({z}))) / 2)"

    xip, etap = xi, eta
    for j, b in enumerate(c["beta"], start=1):
        xip = f"({xip} - {b!r} * sin(2.0 * {j} * {xi}) " \
              f"* {cosh(f'2.0 * {j} * {eta}')})"
        etap = f"({etap} - {b!r} * cos(2.0 * {j} * {xi}) " \
               f"* {sinh(f'2.0 * {j} * {eta}')})"
    chi = f"asin(sin({xip}) / {cosh(etap)})"
    phi = chi
    for j, d in enumerate(c["delta"], start=1):
        phi = f"({phi} + {d!r} * sin(2.0 * {j} * ({chi})))"
    lam = f"atan2({sinh(etap)}, cos({xip}))"
    return f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})"


# ---- polar stereographic (EPSG:3413 / EPSG:3031) ----------------------
#
# The polar satellite CRSs (NSIDC Sea Ice stereographics) — ellipsoidal
# polar stereographic from Snyder 1987 (public math, eqs. 21-33..41 and
# the 3-5 chi->phi series).  Same design as UTM above: pure Column
# forward/inverse plus an identical-arithmetic SQL twin for oracles.

_E2 = _E_WGS84 ** 2
#: chi -> phi series coefficients (Snyder eq. 3-5, 4th order in e^2)
_PS_SERIES = (
    _E2 / 2.0 + 5.0 * _E2 ** 2 / 24.0 + _E2 ** 3 / 12.0
    + 13.0 * _E2 ** 4 / 360.0,
    7.0 * _E2 ** 2 / 48.0 + 29.0 * _E2 ** 3 / 240.0
    + 811.0 * _E2 ** 4 / 11520.0,
    7.0 * _E2 ** 3 / 120.0 + 81.0 * _E2 ** 4 / 1120.0,
    4279.0 * _E2 ** 4 / 161280.0,
)

#: crs -> (south, |lat_ts| deg, lon0 deg) — EPSG method 9829
#: (variant B, scale from a standard parallel) on WGS84 with zero
#: false origin; or the 6-tuple (south, |lat_ts| deg or None,
#: lon0 deg, fe, fn, k0 or None) where lat_ts None means method
#: 9810 (variant A, +k_0 scale at the pole — the UPS form).
PS_PARAMS: dict[str, tuple] = {
    "EPSG:3413": (False, 70.0, -45.0),  # NSIDC North / Greenland
    "EPSG:3031": (True, 71.0, 0.0),     # Antarctic Polar Stereographic
    "EPSG:3976": (True, 70.0, 0.0),     # NSIDC Sea Ice Polar South
    "EPSG:3995": (False, 71.0, 0.0),    # Arctic Polar Stereographic
    # Universal Polar Stereographic (GN7-2 method 9810 worked example)
    "EPSG:5041": (False, None, 0.0, 2_000_000.0, 2_000_000.0, 0.994),
    "EPSG:5042": (True, None, 0.0, 2_000_000.0, 2_000_000.0, 0.994),
}

#: sqrt((1+e)^(1+e) * (1-e)^(1-e)) — the variant-A rho denominator
#: (EPSG method 9810 / Snyder 21-33 with k0 given at the pole)
_PS_VARA_C = math.sqrt((1.0 + _E_WGS84) ** (1.0 + _E_WGS84)
                       * (1.0 - _E_WGS84) ** (1.0 - _E_WGS84))


def _ps_unpack(crs: str) -> dict:
    """Normalize either PS_PARAMS tuple shape to the transform
    constants; K / Kinv are computed in the exact historical op
    order for the 3-tuple (variant B) keys so their expressions are
    bit-identical to rounds 1-7."""
    t = PS_PARAMS[crs.upper()]
    south, lat_ts, lon0 = t[0], t[1], t[2]
    fe, fn = (t[3], t[4]) if len(t) > 3 else (0.0, 0.0)
    k0 = t[5] if len(t) > 5 else None
    if lat_ts is not None:
        m_ts, t_ts = _ps_consts(lat_ts)
        K = _R * m_ts / t_ts
        Kinv = t_ts / (_R * m_ts)
    else:
        K = 2.0 * _R * k0 / _PS_VARA_C
        Kinv = _PS_VARA_C / (2.0 * _R * k0)
    return dict(south=south, lon0=lon0, fe=fe, fn=fn, K=K, Kinv=Kinv)


# ---- ellipsoidal Mercator (Snyder 7-7/7-10; EPSG:3395) ------------------

#: crs -> (lat_ts deg, lon0 deg, false easting, false northing), WGS84.
#: The TRUE ellipsoidal Mercator — distinct from EPSG:3857's
#: spherical-formula convention above.
MERC_PARAMS: dict[str, tuple[float, float, float, float]] = {
    "EPSG:3395": (0.0, 0.0, 0.0, 0.0),  # World Mercator
}


def _merc_ak(lat_ts: float) -> float:
    """a * k0 with k0 = m(lat_ts) (Snyder 7-8 / 14-15)."""
    phi = math.radians(lat_ts)
    s = math.sin(phi)
    return _R * math.cos(phi) / math.sqrt(1.0 - _E2 * s * s)


def _lonlat_to_merc_fn(crs: str) -> ColumnTransform:
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(lon0))
        latc = F.when(lat > 89.9999, 89.9999) \
            .when(lat < -89.9999, -89.9999).otherwise(lat)
        phi = F.radians(latc)
        s = F.lit(_E_WGS84) * F.sin(phi)
        y = F.lit(ak) * F.log(
            F.tan(F.lit(math.pi / 4.0) + phi / 2) * F.pow(
                (F.lit(1.0) - s) / (F.lit(1.0) + s),
                F.lit(_E_WGS84 / 2.0)))
        return F.lit(fe) + F.lit(ak) * lam, F.lit(fn) + y

    return fwd


# ---- geostationary satellite view (+proj=geos; CF "geostationary") ------

#: crs -> (h m, lon0 deg, sweep_x, a m, rf).  Satellite full-disk
#: grids (GOES-R ABI: sweep x; MSG SEVIRI: sweep y).  Public math:
#: the normalized geostationary projection of the CGMS LRIT/HRIT
#: spec / PROJ's geos (view-vector intersection with the ellipsoid;
#: closed-form quadratic both directions).  No standard EPSG code —
#: these CRSs are registered via crsparse (+proj=geos strings or CF
#: geostationary attrs), never pre-listed.
GEOS_PARAMS: dict[str, tuple[float, float, bool, float, float]] = {}


def _geos_consts(crs: str) -> dict:
    h, lon0, sweep_x, a, rf = GEOS_PARAMS[crs.upper()]
    f = 0.0 if math.isinf(rf) else 1.0 / rf
    one_es = (1.0 - f) ** 2          # (b/a)^2
    return dict(
        lon0=lon0, sweep_x=sweep_x, a=a,
        radius_g_1=h / a, radius_g=1.0 + h / a,
        radius_p=math.sqrt(one_es), radius_p2=one_es,
        radius_p_inv2=1.0 / one_es,
        C=(1.0 + h / a) ** 2 - 1.0,
    )


def _lonlat_to_geos_fn(crs: str) -> ColumnTransform:
    c = _geos_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(c["lon0"]))
        # geodetic -> geocentric latitude on the normalized ellipsoid
        phi = F.atan(F.lit(c["radius_p2"]) * F.tan(F.radians(lat)))
        # explicit sqrt(u*u + v*v), not hypot: the SQL oracle twin
        # states the same ops so both engines round identically
        u = F.lit(c["radius_p"]) * F.cos(phi)
        v = F.sin(phi)
        r = F.lit(c["radius_p"]) / F.sqrt(u * u + v * v)
        vx = r * F.cos(lam) * F.cos(phi)
        vy = r * F.sin(lam) * F.cos(phi)
        vz = r * F.sin(phi)
        tmp = F.lit(c["radius_g"]) - vx
        visible = ((F.lit(c["radius_g"]) - vx) * vx - vy * vy
                   - vz * vz * F.lit(c["radius_p_inv2"])) >= 0.0
        if c["sweep_x"]:
            x = F.lit(c["radius_g_1"]) * F.atan(
                vy / F.sqrt(vz * vz + tmp * tmp))
            y = F.lit(c["radius_g_1"]) * F.atan(vz / tmp)
        else:
            x = F.lit(c["radius_g_1"]) * F.atan(vy / tmp)
            y = F.lit(c["radius_g_1"]) * F.atan(
                vz / F.sqrt(vy * vy + tmp * tmp))
        nan = F.lit(float("nan"))
        return (F.when(visible, F.lit(c["a"]) * x).otherwise(nan),
                F.when(visible, F.lit(c["a"]) * y).otherwise(nan))

    return fwd


def _geos_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _geos_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xn = x / F.lit(c["a"] * c["radius_g_1"])
        yn = y / F.lit(c["a"] * c["radius_g_1"])
        if c["sweep_x"]:
            vz = F.tan(yn)
            vy = F.tan(xn) * F.sqrt(F.lit(1.0) + vz * vz)
        else:
            vy = F.tan(xn)
            vz = F.tan(yn) * F.sqrt(F.lit(1.0) + vy * vy)
        # view line p = (radius_g,0,0) + k*(-1, vy, vz); intersect the
        # normalized ellipsoid: quadratic in k (off-disk -> sqrt(neg)
        # -> NaN, the documented not-visible signal)
        vzp = vz / F.lit(c["radius_p"])
        qa = vy * vy + vzp * vzp + F.lit(1.0)
        qb = F.lit(2.0 * c["radius_g"]) * F.lit(-1.0)
        k = (-qb - F.sqrt(qb * qb - 4.0 * qa * F.lit(c["C"]))) / (2.0 * qa)
        px = F.lit(c["radius_g"]) - k
        py = vy * k
        pz = vz * k
        lam = F.atan2(py, px)
        phi = F.atan(pz * F.cos(lam) / px)
        phi = F.atan(F.lit(c["radius_p_inv2"]) * F.tan(phi))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def geos_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME geostationary inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_geos_to_lonlat_fn`, so
    both engines produce bit-identical doubles.  Returns
    (lon_sql, lat_sql)."""
    c = _geos_consts(crs)
    xn = f"(({x_expr}) / {c['a'] * c['radius_g_1']!r})"
    yn = f"(({y_expr}) / {c['a'] * c['radius_g_1']!r})"
    if c["sweep_x"]:
        vz = f"TAN({yn})"
        vy = f"(TAN({xn}) * SQRT(1.0 + {vz} * {vz}))"
    else:
        vy = f"TAN({xn})"
        vz = f"(TAN({yn}) * SQRT(1.0 + {vy} * {vy}))"
    vzp = f"({vz} / {c['radius_p']!r})"
    qa = f"({vy} * {vy} + {vzp} * {vzp} + 1.0)"
    qb = repr(2.0 * c["radius_g"] * -1.0)
    k = f"((-({qb}) - SQRT({qb} * {qb} - 4.0 * {qa} * {c['C']!r}))" \
        f" / (2.0 * {qa}))"
    px = f"({c['radius_g']!r} - {k})"
    py = f"({vy} * {k})"
    pz = f"({vz} * {k})"
    lam = f"ATAN2({py}, {px})"
    phi = f"ATAN({c['radius_p_inv2']!r} * TAN(ATAN({pz} * COS({lam})" \
          f" / {px})))"
    return (f"({c['lon0']!r} + DEGREES({lam}))", f"DEGREES({phi})")


#: CF `rotated_latitude_longitude` / PROJ `+proj=ob_tran
#: +o_proj=longlat` (regional climate model grids — CORDEX, COSMO,
#: HIRLAM).  Pure spherical rotation: grid coords ARE rotated lon/lat
#: in DEGREES (the CF convention; pyproj's CF export adds
#: +to_meter=0.0174532925199433 for the same effect).  Params:
#: (grid_north_pole_latitude, grid_north_pole_longitude,
#: north_pole_grid_longitude).  No standard EPSG codes — registered
#: via crsparse.  Reference parity: accepts any pyproj CRS incl.
#: rotated pole (`xcube/core/gridmapping/transform.py`).
ROTPOLE_PARAMS: dict[str, tuple[float, float, float]] = {}


def _rotpole_consts(crs: str) -> dict:
    theta_p, lambda_p, phi0 = ROTPOLE_PARAMS[crs.upper()]
    return dict(
        lambda_p=lambda_p, phi0=phi0,
        sp=math.sin(math.radians(theta_p)),
        cp=math.cos(math.radians(theta_p)),
    )


def _lonlat_to_rotpole_fn(crs: str) -> ColumnTransform:
    """True lon/lat (deg) -> rotated lon/lat (deg).  Derivation:
    v = unit vector; rotate Rz(-lambda_p) then Ry(theta_p - 90) so the
    grid pole lands on +z; the true north pole then sits at rotated
    longitude 180, so CF's north_pole_grid_longitude phi0 shifts the
    rotated longitude by (phi0 - 180)."""
    c = _rotpole_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(c["lambda_p"]))
        phi = F.radians(lat)
        cphi = F.cos(phi)
        sphi = F.sin(phi)
        clam = F.cos(lam)
        z2 = sphi * F.lit(c["sp"]) + cphi * F.lit(c["cp"]) * clam
        y2 = cphi * F.sin(lam)
        x2 = cphi * clam * F.lit(c["sp"]) - sphi * F.lit(c["cp"])
        rlat = F.degrees(F.asin(z2))
        rlon = (F.degrees(F.atan2(y2, x2)) - F.lit(180.0)
                + F.lit(c["phi0"]))
        rlon = (F.when(rlon < -180.0, rlon + F.lit(360.0))
                .when(rlon > 180.0, rlon - F.lit(360.0))
                .otherwise(rlon))
        return rlon, rlat

    return fwd


def _rotpole_to_lonlat_fn(crs: str) -> ColumnTransform:
    """Rotated lon/lat (deg) -> true lon/lat (deg): the transpose
    rotation of :func:`_lonlat_to_rotpole_fn`."""
    c = _rotpole_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        lam0 = F.radians(x - F.lit(c["phi0"]) + F.lit(180.0))
        phi = F.radians(y)
        cphi = F.cos(phi)
        x2 = cphi * F.cos(lam0)
        y2 = cphi * F.sin(lam0)
        z2 = F.sin(phi)
        lat = F.degrees(F.asin(
            z2 * F.lit(c["sp"]) - x2 * F.lit(c["cp"])))
        x1 = x2 * F.lit(c["sp"]) + z2 * F.lit(c["cp"])
        lon = F.lit(c["lambda_p"]) + F.degrees(F.atan2(y2, x1))
        lon = (F.when(lon < -180.0, lon + F.lit(360.0))
               .when(lon > 180.0, lon - F.lit(360.0))
               .otherwise(lon))
        return lon, lat

    return inv


def rotpole_inverse_sql(x_expr: str, y_expr: str,
                        crs: str) -> tuple[str, str]:
    """The SAME rotated-pole inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_rotpole_to_lonlat_fn`.
    Returns (lon_sql, lat_sql)."""
    c = _rotpole_consts(crs)
    lam0 = f"RADIANS(({x_expr}) - {c['phi0']!r} + 180.0)"
    phi = f"RADIANS({y_expr})"
    cphi = f"COS({phi})"
    x2 = f"({cphi} * COS({lam0}))"
    y2 = f"({cphi} * SIN({lam0}))"
    z2 = f"SIN({phi})"
    lat = f"DEGREES(ASIN({z2} * {c['sp']!r} - {x2} * {c['cp']!r}))"
    x1 = f"({x2} * {c['sp']!r} + {z2} * {c['cp']!r})"
    lon = f"({c['lambda_p']!r} + DEGREES(ATAN2({y2}, {x1})))"
    lon = (f"(CASE WHEN {lon} < -180.0 THEN {lon} + 360.0 "
           f"WHEN {lon} > 180.0 THEN {lon} - 360.0 ELSE {lon} END)")
    return lon, lat


# ---- oblique (double) stereographic — EPSG method 9809 ------------------
#
# "Stereographic projection of the conformal sphere": ellipsoid ->
# conformal sphere (exponent n, factor c) -> plane stereographically.
# PROJ `+proj=sterea`; the Dutch RD New grid (EPSG:28992, Bessel 1841)
# is the canonical user.  Math per EPSG Guidance Note 7-2, validated
# against its published test point (53N 6E -> 196105.283, 557057.739).

#: crs -> (a, rf, lat0, lon0, k0, false easting, false northing)
STEREA_PARAMS: dict[str, tuple] = {
    # Amersfoort / RD New (Bessel 1841; origin 52°09'22.178"N,
    # 5°23'15.500"E)
    "EPSG:28992": (6_377_397.155, 299.1528128,
                   52.0 + 9.0 / 60.0 + 22.178 / 3600.0,
                   5.0 + 23.0 / 60.0 + 15.5 / 3600.0,
                   0.9999079, 155_000.0, 463_000.0),
}

#: fixed iteration count of the conformal->geodetic latitude solve;
#: converges to <1e-12 rad in 3 for earthlike eccentricities (both
#: engines run the SAME count so the op sequence is identical)
_STEREA_ITERS = 4


def _sterea_consts(crs: str) -> dict:
    a, rf, lat0, lon0, k0, fe, fn = STEREA_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phi0 = math.radians(lat0)
    s0 = math.sin(phi0)
    nu0 = a / math.sqrt(1.0 - es * s0 * s0)
    rho0 = a * (1.0 - es) / (1.0 - es * s0 * s0) ** 1.5
    big_r = math.sqrt(nu0 * rho0)
    n = math.sqrt(1.0 + es * math.cos(phi0) ** 4 / (1.0 - es))
    s1 = (1.0 + s0) / (1.0 - s0)
    s2 = (1.0 - e * s0) / (1.0 + e * s0)
    w1 = (s1 * s2 ** e) ** n
    sx0 = (w1 - 1.0) / (w1 + 1.0)
    c = ((n + s0) * (1.0 - sx0)) / ((n - s0) * (1.0 + sx0))
    w2 = c * w1
    schi0 = (w2 - 1.0) / (w2 + 1.0)
    chi0 = math.asin(schi0)
    rk2 = 2.0 * big_r * k0
    return dict(
        e=e, es=es, n=n, c=c, k0=k0, fe=fe, fn=fn,
        lon0=lon0, lam0=math.radians(lon0),
        schi0=schi0, cchi0=math.cos(chi0), rk2=rk2,
        g=rk2 * math.tan(math.pi / 4.0 - chi0 / 2.0),
        h=2.0 * rk2 * math.tan(chi0)
        + rk2 * math.tan(math.pi / 4.0 - chi0 / 2.0),
        chi0=chi0,
    )


def _lonlat_to_sterea_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg) -> oblique-stereographic E/N (EPSG 9809
    forward); staged so the w/chi intermediates are not re-expanded."""
    c = _sterea_consts(crs)
    e, n = c["e"], c["n"]

    def s1(env):
        return F.sin(F.radians(env["__in_y"]))

    def s2(env):
        sphi = env["__sphi"]
        sa = (F.lit(1.0) + sphi) / (F.lit(1.0) - sphi)
        sb = (F.lit(1.0) - F.lit(e) * sphi) / \
            (F.lit(1.0) + F.lit(e) * sphi)
        return F.lit(c["c"]) * F.pow(sa * F.pow(sb, F.lit(e)), F.lit(n))

    def s3(env):
        return (env["__w"] - F.lit(1.0)) / (env["__w"] + F.lit(1.0))

    def s4(env):
        schi = env["__schi"]
        return F.sqrt(F.lit(1.0) - schi * schi)

    def s5(env):
        return F.lit(n) * (F.radians(env["__in_x"]) - F.lit(c["lam0"]))

    def s6(env):
        return (F.lit(1.0) + env["__schi"] * F.lit(c["schi0"])
                + env["__cchi"] * F.lit(c["cchi0"]) * F.cos(env["__dl"]))

    def out_x(env):
        return (F.lit(c["fe"]) + F.lit(c["rk2"]) * env["__cchi"]
                * F.sin(env["__dl"]) / env["__b"])

    def out_y(env):
        return (F.lit(c["fn"]) + F.lit(c["rk2"])
                * (env["__schi"] * F.lit(c["cchi0"])
                   - env["__cchi"] * F.lit(c["schi0"])
                   * F.cos(env["__dl"])) / env["__b"])

    return StagedTransform([
        {"__sphi": s1},
        {"__w": s2},
        {"__schi": s3},
        {"__cchi": s4, "__dl": s5},
        {"__b": s6},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _sterea_to_lonlat_fn(crs: str) -> "StagedTransform":
    """E/N -> lon/lat (EPSG 9809 inverse): stereographic un-projection
    on the conformal sphere, then the fixed-count iterative
    conformal->geodetic latitude solve, one stage per iteration."""
    c = _sterea_consts(crs)
    e, es, n = c["e"], c["es"], c["n"]

    def sub(env):
        return env["__in_x"] - F.lit(c["fe"])

    def subn(env):
        return env["__in_y"] - F.lit(c["fn"])

    def c_i(env):
        return F.atan2(env["__ep"], F.lit(c["h"]) + env["__np"])

    def c_j(env):
        return F.atan2(env["__ep"],
                       F.lit(c["g"]) - env["__np"]) - env["__i"]

    def c_chi(env):
        return F.lit(c["chi0"]) + F.lit(2.0) * F.atan(
            (env["__np"] - env["__ep"] * F.tan(env["__j"] / F.lit(2.0)))
            / F.lit(c["rk2"]))

    def c_lon(env):
        lam = env["__j"] + F.lit(2.0) * env["__i"] + F.lit(c["lam0"])
        return (F.degrees((lam - F.lit(c["lam0"])) / F.lit(n))
                + F.lit(c["lon0"]))

    def c_psi(env):
        schi = F.sin(env["__chi"])
        return F.log((F.lit(1.0) + schi)
                     / (F.lit(c["c"]) * (F.lit(1.0) - schi))) \
            / F.lit(2.0 * n)

    def c_phi0(env):
        return (F.lit(2.0) * F.atan(F.exp(env["__psi"]))
                - F.lit(math.pi / 2.0))

    def step(env):
        phi = env["__phi"]
        sphi = F.sin(phi)
        psii = F.log(
            F.tan(phi / F.lit(2.0) + F.lit(math.pi / 4.0))
            * F.pow((F.lit(1.0) - F.lit(e) * sphi)
                    / (F.lit(1.0) + F.lit(e) * sphi),
                    F.lit(e / 2.0)))
        return phi - (psii - env["__psi"]) * F.cos(phi) \
            * (F.lit(1.0) - F.lit(es) * sphi * sphi) / F.lit(1.0 - es)

    stages = [
        {"__ep": sub, "__np": subn},
        {"__i": c_i},
        {"__j": c_j},
        {"__chi": c_chi, "__out_x": c_lon},
        {"__psi": c_psi},
        {"__phi": c_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_STEREA_ITERS)]
    stages.append({"__out_y": lambda env: F.degrees(env["__phi"])})
    return StagedTransform(stages)


def sterea_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                            src: str = "tgt") -> str:
    """The SAME oblique-stereographic inverse as a chain of CTEs over
    ``src`` (for DuckDB oracles) — identical arithmetic and iteration
    count to :func:`_sterea_to_lonlat_fn`.  Emits CTEs ``st1..`` and
    finally ``sterea_ll`` = ``src`` columns + ``lon``/``lat``."""
    c = _sterea_consts(crs)
    e, es, n = c["e"], c["es"], c["n"]
    iters = "".join(f"""), st{7 + k} AS (
            SELECT * EXCLUDE (__phi), (__phi - (ln(tan(__phi / 2.0
                + {math.pi / 4.0!r}) * pow((1.0 - {e!r} * sin(__phi))
                / (1.0 + {e!r} * sin(__phi)), {e / 2.0!r})) - __psi)
                * cos(__phi) * (1.0 - {es!r} * sin(__phi) * sin(__phi))
                / {1.0 - es!r}) AS __phi
            FROM st{6 + k}""" for k in range(_STEREA_ITERS))
    return f"""st1 AS (
            SELECT *, (({x_expr}) - {c['fe']!r}) AS __ep,
                      (({y_expr}) - {c['fn']!r}) AS __np
            FROM {src}
        ), st2 AS (
            SELECT *, atan2(__ep, {c['h']!r} + __np) AS __i FROM st1
        ), st3 AS (
            SELECT *, (atan2(__ep, {c['g']!r} - __np) - __i) AS __j
            FROM st2
        ), st4 AS (
            SELECT *, ({c['chi0']!r} + 2.0 * atan((__np - __ep
                       * tan(__j / 2.0)) / {c['rk2']!r})) AS __chi,
                   (degrees(((__j + 2.0 * __i + {c['lam0']!r})
                             - {c['lam0']!r}) / {n!r})
                    + {c['lon0']!r}) AS lon
            FROM st3
        ), st5 AS (
            SELECT *, (ln((1.0 + sin(__chi))
                          / ({c['c']!r} * (1.0 - sin(__chi))))
                       / {2.0 * n!r}) AS __psi
            FROM st4
        ), st6 AS (
            SELECT *, (2.0 * atan(exp(__psi)) - {math.pi / 2.0!r})
                      AS __phi
            FROM st5
        {iters}), sterea_ll AS (
            SELECT * EXCLUDE (__ep, __np, __i, __j, __chi, __psi,
                              __phi),
                   degrees(__phi) AS lat
            FROM st{6 + _STEREA_ITERS}
        )"""


def _merc_to_lonlat_fn(crs: str) -> ColumnTransform:
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        lam = (x - F.lit(fe)) / F.lit(ak)
        t = F.exp((F.lit(fn) - y) / F.lit(ak))  # Snyder 7-10
        chi = F.lit(math.pi / 2.0) - 2 * F.atan(t)
        phi = chi
        for j, c in enumerate(_PS_SERIES, start=1):
            phi = phi + F.lit(c) * F.sin(F.lit(2.0 * j) * chi)
        return F.lit(lon0) + F.degrees(lam), F.degrees(phi)

    return inv


def merc_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME ellipsoidal-Mercator inverse as SQL strings (for
    DuckDB oracles) — identical op order to
    :func:`_merc_to_lonlat_fn` (Snyder 7-10 + the chi->phi series).
    Returns (lon_sql, lat_sql)."""
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)
    lam = f"((({x_expr}) - {fe!r}) / {ak!r})"
    t = f"exp(({fn!r} - ({y_expr})) / {ak!r})"
    chi = f"({math.pi / 2.0!r} - 2 * atan({t}))"
    phi = chi
    for j, cj in enumerate(_PS_SERIES, start=1):
        phi = f"({phi} + {cj!r} * sin(2.0 * {j} * ({chi})))"
    return f"({lon0!r} + degrees({lam}))", f"degrees({phi})"


def _ps_consts(lat_ts: float) -> tuple[float, float]:
    """(m_ts, t_ts) at the standard parallel (Snyder 14-15, 15-9)."""
    phi = math.radians(lat_ts)
    s = math.sin(phi)
    m_ts = math.cos(phi) / math.sqrt(1.0 - _E2 * s * s)
    t_ts = math.tan(math.pi / 4.0 - phi / 2.0) * (
        (1.0 + _E_WGS84 * s) / (1.0 - _E_WGS84 * s)
    ) ** (_E_WGS84 / 2.0)
    return m_ts, t_ts


def _lonlat_to_ps_fn(crs: str) -> ColumnTransform:
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(lon0))
        phi = F.radians(F.lit(-1.0) * lat if south else lat)
        s = F.lit(_E_WGS84) * F.sin(phi)
        t = F.tan(F.lit(math.pi / 4.0) - phi / 2) * F.pow(
            (F.lit(1.0) + s) / (F.lit(1.0) - s), F.lit(_E_WGS84 / 2.0)
        )
        rho = F.lit(c["K"]) * t
        # north: pole at origin, y negative along lon0 (Snyder 21-30/31)
        # south aspect: y positive along lon0 (Snyder 21-26/27 mirrored)
        xo = rho * F.sin(lam)
        yo = rho * F.cos(lam) if south \
            else rho * F.cos(lam) * F.lit(-1.0)
        # false origin only when nonzero: 3-tuple keys keep their
        # historical expression tree bit-exactly
        if c["fe"]:
            xo = F.lit(c["fe"]) + xo
        if c["fn"]:
            yo = F.lit(c["fn"]) + yo
        return xo, yo

    return fwd


def _ps_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        if c["fe"]:
            x = x - F.lit(c["fe"])
        if c["fn"]:
            y = y - F.lit(c["fn"])
        rho = F.sqrt(x * x + y * y)
        t = rho * F.lit(c["Kinv"])
        chi = F.lit(math.pi / 2.0) - 2 * F.atan(t)
        phi = chi
        for j, cj in enumerate(_PS_SERIES, start=1):
            phi = phi + F.lit(cj) * F.sin(F.lit(2.0 * j) * chi)
        lam = F.atan2(x, y if south else y * F.lit(-1.0))
        lat = F.degrees(phi)
        return (
            F.lit(lon0) + F.degrees(lam),
            lat * F.lit(-1.0) if south else lat,
        )

    return inv


def ps_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME polar-stereographic inverse as SQL strings (for DuckDB
    oracles).  Returns (lon_sql, lat_sql)."""
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]
    x = f"({x_expr})"
    y = f"({y_expr})"
    if c["fe"]:
        x = f"({x} - {c['fe']!r})"
    if c["fn"]:
        y = f"({y} - {c['fn']!r})"
    rho = f"sqrt({x} * {x} + {y} * {y})"
    t = f"({rho} * {c['Kinv']!r})"
    chi = f"({math.pi / 2.0!r} - 2 * atan({t}))"
    phi = chi
    for j, cj in enumerate(_PS_SERIES, start=1):
        phi = f"({phi} + {cj!r} * sin(2.0 * {j} * ({chi})))"
    lam = f"atan2({x}, {y if south else f'({y} * -1.0)'})"
    lat = f"degrees({phi})"
    return (
        f"({lon0!r} + degrees({lam}))",
        f"({lat} * -1.0)" if south else lat,
    )


# ---- spherical azimuthal equidistant / orthographic / equidistant
# ---- cylindrical ------------------------------------------------------
#
# Three spherical closed forms (Snyder chs. 25, 20, 12) rounding out
# the CF grid-mapping names the reference accepts via pyproj:
# azimuthal_equidistant, orthographic, and PROJ +proj=eqc (EPSG
# method 1029 on the authalic sphere, EPSG:4088).  Ellipsoidal aeqd
# needs geodesics and ellipsoidal eqc a meridian-arc series — both
# raise with a clear message in crsparse rather than silently
# approximating.

#: crs -> (R, lat0, lon0, false easting, false northing)
AEQD_PARAMS: dict[str, tuple] = {}

#: crs -> (R, lat0, lon0, false easting, false northing)
ORTHO_PARAMS: dict[str, tuple] = {}

#: crs -> (a, rf, lat_ts, lon0, false easting, false northing);
#: rf = inf is the spherical method 1029, finite rf the ellipsoidal
#: method 1028 (meridian arc via the Krueger rectifying series)
EQC_PARAMS: dict[str, tuple] = {
    # World Equidistant Cylindrical (GRS80 authalic sphere)
    "EPSG:4088": (6_371_007.0, math.inf, 0.0, 0.0, 0.0, 0.0),
    # WGS 84 / World Equidistant Cylindrical (ellipsoidal)
    "EPSG:4087": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0, 0.0),
}


def _azi_consts(table: dict, crs: str) -> dict:
    r, lat0, lon0, fe, fn = table[crs.upper()]
    phi0 = math.radians(lat0)
    return dict(r=r, lon0=lon0, fe=fe, fn=fn,
                sp0=math.sin(phi0), cp0=math.cos(phi0))


def _lonlat_to_aeqd_fn(crs: str) -> ColumnTransform:
    c = _azi_consts(AEQD_PARAMS, crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        dl = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        cosc = (F.lit(c["sp0"]) * F.sin(phi)
                + F.lit(c["cp0"]) * F.cos(phi) * F.cos(dl))
        cang = F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosc)))
        # k' = c/sin c, 1 at the center (Snyder 25-2)
        kp = F.when(F.sin(cang) == 0.0, F.lit(1.0)) \
            .otherwise(cang / F.sin(cang))
        x = F.lit(c["fe"]) + F.lit(c["r"]) * kp * F.cos(phi) * F.sin(dl)
        y = F.lit(c["fn"]) + F.lit(c["r"]) * kp * (
            F.lit(c["cp0"]) * F.sin(phi)
            - F.lit(c["sp0"]) * F.cos(phi) * F.cos(dl))
        return x, y

    return fwd


def _aeqd_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _azi_consts(AEQD_PARAMS, crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yn = y - F.lit(c["fn"])
        rho = F.sqrt(xe * xe + yn * yn)
        cang = rho / F.lit(c["r"])
        phi = F.when(rho == 0.0, F.asin(F.lit(c["sp0"]))).otherwise(
            F.asin(F.cos(cang) * F.lit(c["sp0"])
                   + yn * F.sin(cang) * F.lit(c["cp0"]) / rho))
        lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
            F.atan2(xe * F.sin(cang),
                    rho * F.lit(c["cp0"]) * F.cos(cang)
                    - yn * F.lit(c["sp0"]) * F.sin(cang)))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def aeqd_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME spherical azimuthal-equidistant inverse as SQL strings
    (for DuckDB oracles) — identical op order to
    :func:`_aeqd_to_lonlat_fn`.  Returns (lon_sql, lat_sql)."""
    c = _azi_consts(AEQD_PARAMS, crs)
    xe = f"(({x_expr}) - {c['fe']!r})"
    yn = f"(({y_expr}) - {c['fn']!r})"
    rho = f"sqrt({xe} * {xe} + {yn} * {yn})"
    cang = f"({rho} / {c['r']!r})"
    phi = (f"(CASE WHEN {rho} = 0.0 THEN asin({c['sp0']!r}) ELSE "
           f"asin(cos({cang}) * {c['sp0']!r} + {yn} * sin({cang})"
           f" * {c['cp0']!r} / {rho}) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xe} * sin({cang}), {rho} * {c['cp0']!r}"
           f" * cos({cang}) - {yn} * {c['sp0']!r} * sin({cang})) END)")
    return (f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})")


def _lonlat_to_ortho_fn(crs: str) -> ColumnTransform:
    c = _azi_consts(ORTHO_PARAMS, crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        dl = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        cosc = (F.lit(c["sp0"]) * F.sin(phi)
                + F.lit(c["cp0"]) * F.cos(phi) * F.cos(dl))
        nan = F.lit(float("nan"))
        x = F.lit(c["fe"]) + F.lit(c["r"]) * F.cos(phi) * F.sin(dl)
        y = F.lit(c["fn"]) + F.lit(c["r"]) * (
            F.lit(c["cp0"]) * F.sin(phi)
            - F.lit(c["sp0"]) * F.cos(phi) * F.cos(dl))
        vis = cosc >= 0.0  # far hemisphere is not on the map
        return F.when(vis, x).otherwise(nan), \
            F.when(vis, y).otherwise(nan)

    return fwd


def _ortho_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _azi_consts(ORTHO_PARAMS, crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yn = y - F.lit(c["fn"])
        rho = F.sqrt(xe * xe + yn * yn)
        # off-disk: asin(>1) -> NaN, the documented not-visible signal
        cang = F.asin(rho / F.lit(c["r"]))
        phi = F.when(rho == 0.0, F.asin(F.lit(c["sp0"]))).otherwise(
            F.asin(F.cos(cang) * F.lit(c["sp0"])
                   + yn * F.sin(cang) * F.lit(c["cp0"]) / rho))
        lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
            F.atan2(xe * F.sin(cang),
                    rho * F.lit(c["cp0"]) * F.cos(cang)
                    - yn * F.lit(c["sp0"]) * F.sin(cang)))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def ortho_inverse_sql(x_expr: str, y_expr: str,
                      crs: str) -> tuple[str, str]:
    """The SAME spherical orthographic inverse as SQL strings (for
    DuckDB oracles) — identical op order to
    :func:`_ortho_to_lonlat_fn` (Snyder ch. 20: c = asin(rho/R))."""
    c = _azi_consts(ORTHO_PARAMS, crs)
    xe = f"(({x_expr}) - {c['fe']!r})"
    yn = f"(({y_expr}) - {c['fn']!r})"
    rho = f"sqrt({xe} * {xe} + {yn} * {yn})"
    cang = f"asin({rho} / {c['r']!r})"
    phi = (f"(CASE WHEN {rho} = 0.0 THEN asin({c['sp0']!r}) ELSE "
           f"asin(cos({cang}) * {c['sp0']!r} + {yn} * sin({cang})"
           f" * {c['cp0']!r} / {rho}) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xe} * sin({cang}), {rho} * {c['cp0']!r}"
           f" * cos({cang}) - {yn} * {c['sp0']!r} * sin({cang})) END)")
    return (f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})")


#: crs -> (R, lat0, lon0, false easting, false northing)
GNOM_PARAMS: dict[str, tuple] = {}


def _lonlat_to_gnom_fn(crs: str) -> ColumnTransform:
    """Spherical gnomonic forward (Snyder ch. 22): k' = 1 / cos c —
    every great circle maps to a straight line (the defining
    property, pinned by tests); the far hemisphere and the horizon
    circle (cos c <= 0) are not on the map (NaN)."""
    c = _azi_consts(GNOM_PARAMS, crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        dl = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        cosc = (F.lit(c["sp0"]) * F.sin(phi)
                + F.lit(c["cp0"]) * F.cos(phi) * F.cos(dl))
        nan = F.lit(float("nan"))
        x = F.lit(c["fe"]) + F.lit(c["r"]) * F.cos(phi) * F.sin(dl) / cosc
        y = F.lit(c["fn"]) + F.lit(c["r"]) * (
            F.lit(c["cp0"]) * F.sin(phi)
            - F.lit(c["sp0"]) * F.cos(phi) * F.cos(dl)) / cosc
        vis = cosc > 0.0
        return F.when(vis, x).otherwise(nan), \
            F.when(vis, y).otherwise(nan)

    return fwd


def _gnom_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _azi_consts(GNOM_PARAMS, crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yn = y - F.lit(c["fn"])
        rho = F.sqrt(xe * xe + yn * yn)
        cang = F.atan(rho / F.lit(c["r"]))  # c = atan(rho/R), 22-16
        phi = F.when(rho == 0.0, F.asin(F.lit(c["sp0"]))).otherwise(
            F.asin(F.cos(cang) * F.lit(c["sp0"])
                   + yn * F.sin(cang) * F.lit(c["cp0"]) / rho))
        lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
            F.atan2(xe * F.sin(cang),
                    rho * F.lit(c["cp0"]) * F.cos(cang)
                    - yn * F.lit(c["sp0"]) * F.sin(cang)))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def gnom_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME spherical gnomonic inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_gnom_to_lonlat_fn`."""
    c = _azi_consts(GNOM_PARAMS, crs)
    xe = f"(({x_expr}) - {c['fe']!r})"
    yn = f"(({y_expr}) - {c['fn']!r})"
    rho = f"sqrt({xe} * {xe} + {yn} * {yn})"
    cang = f"atan({rho} / {c['r']!r})"
    phi = (f"(CASE WHEN {rho} = 0.0 THEN asin({c['sp0']!r}) ELSE "
           f"asin(cos({cang}) * {c['sp0']!r} + {yn} * sin({cang})"
           f" * {c['cp0']!r} / {rho}) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xe} * sin({cang}), {rho} * {c['cp0']!r}"
           f" * cos({cang}) - {yn} * {c['sp0']!r} * sin({cang})) END)")
    return (f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})")


def _eqc_consts(crs: str) -> dict:
    a, rf, lat_ts, lon0, fe, fn = EQC_PARAMS[crs.upper()]
    phi1 = math.radians(lat_ts)
    if math.isinf(rf):
        return dict(sphere=True, lon0=lon0, fe=fe, fn=fn,
                    rc=a * math.cos(phi1), ry=a)
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    alpha, beta, delta, ar = _tm_series(f)
    s1 = math.sin(phi1)
    return dict(sphere=False, lon0=lon0, fe=fe, fn=fn, e=e,
                rc=a * math.cos(phi1) / math.sqrt(1.0 - es * s1 * s1),
                ary=a * ar, alpha=alpha, beta=beta, delta=delta)


# ---- Hotine oblique Mercator (EPSG 9812/9815) --------------------------
#
# The rotated-aspect Mercator for slanted features (Malaysia/Borneo
# RSO grids, Alaska zone 1, Swiss-style axes): EPSG Guidance Note 7-2
# methods 9812 (variant A) / 9815 (variant B), validated against the
# GN's published Timbalai 1948 / RSO Borneo worked example to the mm.

#: crs -> (a, rf, lat_c, lon_c, azimuth alpha_c, rectified-skew
#: gamma_c, k_c, false E, false N, variant_a)
OMERC_PARAMS: dict[str, tuple] = {
    # Timbalai 1948 / RSO Borneo (m) — the GN7-2 worked example
    "EPSG:29873": (6_377_298.556, 300.8017, 4.0, 115.0,
                   53.0 + 18.0 / 60.0 + 56.9537 / 3600.0,
                   53.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
                   0.99984, 590_476.87, 442_857.65, False),
}


def _omerc_consts(crs: str) -> dict:
    a, rf, latc, lonc, alpha, gamma, kc, ec, nc, var_a = \
        OMERC_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phic = math.radians(latc)
    sc = math.sin(phic)
    b = math.sqrt(1.0 + es * math.cos(phic) ** 4 / (1.0 - es))
    big_a = a * b * kc * math.sqrt(1.0 - es) / (1.0 - es * sc * sc)
    t0 = math.tan(math.pi / 4.0 - phic / 2.0) / (
        (1.0 - e * sc) / (1.0 + e * sc)) ** (e / 2.0)
    d = b * math.sqrt(1.0 - es) / (
        math.cos(phic) * math.sqrt(1.0 - es * sc * sc))
    d2 = max(d * d, 1.0)
    south = latc < 0.0
    fc = d + math.sqrt(d2 - 1.0) * (-1.0 if south else 1.0)
    h = fc * t0 ** b
    g_ = (fc - 1.0 / fc) / 2.0
    gamma0 = math.asin(math.sin(math.radians(alpha)) / d)
    lam0 = math.radians(lonc) - math.asin(g_ * math.tan(gamma0)) / b
    uc = (big_a / b) * math.atan2(
        math.sqrt(d2 - 1.0), math.cos(math.radians(alpha))) \
        * (-1.0 if south else 1.0)
    ser = (es / 2.0 + 5.0 * es ** 2 / 24.0 + es ** 3 / 12.0
           + 13.0 * es ** 4 / 360.0,
           7.0 * es ** 2 / 48.0 + 29.0 * es ** 3 / 240.0
           + 811.0 * es ** 4 / 11520.0,
           7.0 * es ** 3 / 120.0 + 81.0 * es ** 4 / 1120.0,
           4279.0 * es ** 4 / 161280.0)
    return dict(e=e, b=b, big_a=big_a, h=h,
                sg0=math.sin(gamma0), cg0=math.cos(gamma0),
                lam0=lam0, uoff=0.0 if var_a else uc,
                sg=math.sin(math.radians(gamma)),
                cg=math.cos(math.radians(gamma)),
                ec=ec, nc=nc, series=ser)


def _lonlat_to_omerc_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg) -> Hotine E/N (EPSG 9815 forward, staged)."""
    c = _omerc_consts(crs)
    e, b, big_a = c["e"], c["b"], c["big_a"]

    def s_t(env):
        s = F.sin(F.radians(env["__in_y"]))
        return (F.tan(F.lit(math.pi / 4.0)
                      - F.radians(env["__in_y"]) / F.lit(2.0))
                / F.pow((F.lit(1.0) - F.lit(e) * s)
                        / (F.lit(1.0) + F.lit(e) * s), F.lit(e / 2.0)))

    def s_q(env):
        return F.lit(c["h"]) / F.pow(env["__t"], F.lit(b))

    def s_sv(env):
        q = env["__q"]
        return (q - F.lit(1.0) / q) / F.lit(2.0)

    def s_tv(env):
        q = env["__q"]
        return (q + F.lit(1.0) / q) / F.lit(2.0)

    def s_dl(env):
        return F.lit(b) * (F.radians(env["__in_x"]) - F.lit(c["lam0"]))

    def s_u(env):
        return F.lit(big_a) * F.atan2(
            env["__s"] * F.lit(c["cg0"])
            + F.sin(env["__dl"]) * F.lit(c["sg0"]),
            F.cos(env["__dl"])) / F.lit(b) - F.lit(c["uoff"])

    def s_v(env):
        u_ = (F.sin(env["__dl"]) * F.lit(-1.0) * F.lit(c["cg0"])
              + env["__s"] * F.lit(c["sg0"])) / env["__tv"]
        return F.lit(big_a) * F.log(
            (F.lit(1.0) - u_) / (F.lit(1.0) + u_)) / F.lit(2.0 * b)

    def out_x(env):
        return (env["__v"] * F.lit(c["cg"])
                + env["__u"] * F.lit(c["sg"]) + F.lit(c["ec"]))

    def out_y(env):
        return (env["__u"] * F.lit(c["cg"])
                - env["__v"] * F.lit(c["sg"]) + F.lit(c["nc"]))

    return StagedTransform([
        {"__t": s_t},
        {"__q": s_q},
        {"__s": s_sv, "__tv": s_tv, "__dl": s_dl},
        {"__u": s_u, "__v": s_v},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _omerc_to_lonlat_fn(crs: str) -> "StagedTransform":
    """Hotine E/N -> lon/lat (EPSG 9815 reverse, staged)."""
    c = _omerc_consts(crs)
    b, big_a = c["b"], c["big_a"]

    def s_v(env):
        return ((env["__in_x"] - F.lit(c["ec"])) * F.lit(c["cg"])
                - (env["__in_y"] - F.lit(c["nc"])) * F.lit(c["sg"]))

    def s_u(env):
        return ((env["__in_y"] - F.lit(c["nc"])) * F.lit(c["cg"])
                + (env["__in_x"] - F.lit(c["ec"])) * F.lit(c["sg"])
                + F.lit(c["uoff"]))

    def s_q(env):
        return F.exp(F.lit(-b) * env["__v"] / F.lit(big_a))

    def s_sv(env):
        q = env["__q"]
        return (q - F.lit(1.0) / q) / F.lit(2.0)

    def s_tv(env):
        q = env["__q"]
        return (q + F.lit(1.0) / q) / F.lit(2.0)

    def s_bu(env):
        return F.lit(b) * env["__u"] / F.lit(big_a)

    def s_uu(env):
        return (F.sin(env["__bu"]) * F.lit(c["cg0"])
                + env["__s"] * F.lit(c["sg0"])) / env["__tv"]

    def s_chi(env):
        t = F.pow(
            F.lit(c["h"]) / F.sqrt((F.lit(1.0) + env["__uu"])
                                   / (F.lit(1.0) - env["__uu"])),
            F.lit(1.0 / b))
        return F.lit(math.pi / 2.0) - F.lit(2.0) * F.atan(t)

    def out_y(env):
        chi = env["__chi"]
        phi = chi
        for j, cf in enumerate(c["series"], start=1):
            phi = phi + F.lit(cf) * F.sin(F.lit(2.0 * j) * chi)
        return F.degrees(phi)

    def out_x(env):
        lam = F.lit(c["lam0"]) - F.atan2(
            env["__s"] * F.lit(c["cg0"])
            - F.sin(env["__bu"]) * F.lit(c["sg0"]),
            F.cos(env["__bu"])) / F.lit(b)
        return F.degrees(lam)

    return StagedTransform([
        {"__v": s_v, "__u": s_u},
        {"__q": s_q, "__bu": s_bu},
        {"__s": s_sv, "__tv": s_tv},
        {"__uu": s_uu},
        {"__chi": s_chi},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def omerc_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                           src: str = "tgt") -> str:
    """The SAME Hotine inverse as a chain of CTEs over ``src`` (for
    DuckDB oracles) — identical arithmetic to
    :func:`_omerc_to_lonlat_fn`.  Emits CTEs ``om1..om6`` and finally
    ``omerc_ll`` = ``src`` columns + ``lon``/``lat``."""
    c = _omerc_consts(crs)
    b, big_a = c["b"], c["big_a"]
    chi = "__chi"
    phi = chi
    for j, cf in enumerate(c["series"], start=1):
        phi = f"({phi} + {cf!r} * sin(2.0 * {j} * (__chi)))"
    # CAST the inputs to DOUBLE up front: DuckDB types numeric
    # literals as DECIMAL, and the skew-rotation's long constant
    # literals overflow DECIMAL(18) multiplication otherwise
    x_expr = f"CAST(({x_expr}) AS DOUBLE)"
    y_expr = f"CAST(({y_expr}) AS DOUBLE)"
    return f"""om1 AS (
            SELECT *, ((({x_expr}) - {c['ec']!r}) * {c['cg']!r}
                       - (({y_expr}) - {c['nc']!r}) * {c['sg']!r})
                      AS __v,
                      ((({y_expr}) - {c['nc']!r}) * {c['cg']!r}
                       + (({x_expr}) - {c['ec']!r}) * {c['sg']!r}
                       + {c['uoff']!r}) AS __u
            FROM {src}
        ), om2 AS (
            SELECT *, exp({-b!r} * __v / {big_a!r}) AS __q,
                      ({b!r} * __u / {big_a!r}) AS __bu
            FROM om1
        ), om3 AS (
            SELECT *, ((__q - 1.0 / __q) / 2.0) AS __s,
                      ((__q + 1.0 / __q) / 2.0) AS __tv
            FROM om2
        ), om4 AS (
            SELECT *, ((sin(__bu) * {c['cg0']!r}
                        + __s * {c['sg0']!r}) / __tv) AS __uu
            FROM om3
        ), om5 AS (
            SELECT *, ({math.pi / 2.0!r} - 2.0 * atan(pow({c['h']!r}
                       / sqrt((1.0 + __uu) / (1.0 - __uu)),
                       {1.0 / b!r}))) AS __chi
            FROM om4
        ), omerc_ll AS (
            SELECT * EXCLUDE (__v, __u, __q, __bu, __s, __tv, __uu,
                              __chi),
                   degrees({c['lam0']!r} - atan2(__s * {c['cg0']!r}
                       - sin(__bu) * {c['sg0']!r}, cos(__bu))
                       / {b!r}) AS lon,
                   degrees({phi}) AS lat
            FROM om5
        )"""


#: spherical near-sided (vertical) perspective — Snyder ch. 23 /
#: CF `vertical_perspective` (satellite-eye views from finite height;
#: orthographic is the h -> inf limit, geostationary the scan-angle
#: sibling).  crs -> (R, height h, lat0, lon0, fe, fn)
NSPER_PARAMS: dict[str, tuple] = {}


def _nsper_consts(crs: str) -> dict:
    r, h, lat0, lon0, fe, fn = NSPER_PARAMS[crs.upper()]
    phi0 = math.radians(lat0)
    return dict(r=r, p=1.0 + h / r, lon0=lon0, fe=fe, fn=fn,
                sp0=math.sin(phi0), cp0=math.cos(phi0))


def _lonlat_to_nsper_fn(crs: str) -> ColumnTransform:
    c = _nsper_consts(crs)
    p = c["p"]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        dl = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        cosc = (F.lit(c["sp0"]) * F.sin(phi)
                + F.lit(c["cp0"]) * F.cos(phi) * F.cos(dl))
        kp = F.lit(p - 1.0) / (F.lit(p) - cosc)  # Snyder 23-3
        nan = F.lit(float("nan"))
        x = F.lit(c["fe"]) + F.lit(c["r"]) * kp * F.cos(phi) * F.sin(dl)
        y = F.lit(c["fn"]) + F.lit(c["r"]) * kp * (
            F.lit(c["cp0"]) * F.sin(phi)
            - F.lit(c["sp0"]) * F.cos(phi) * F.cos(dl))
        vis = cosc >= F.lit(1.0 / p)  # beyond the horizon circle
        return F.when(vis, x).otherwise(nan), \
            F.when(vis, y).otherwise(nan)

    return fwd


def _nsper_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _nsper_consts(crs)
    p, r = c["p"], c["r"]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yn = y - F.lit(c["fn"])
        rho = F.sqrt(xe * xe + yn * yn)
        # Snyder 23-19/20: off-disk -> sqrt(negative) -> NaN
        root = F.sqrt(F.lit(1.0) - rho * rho * F.lit(
            (p + 1.0) / (r * r * (p - 1.0))))
        cang = F.asin((F.lit(p) - root)
                      / (F.lit(r * (p - 1.0)) / rho
                         + rho / F.lit(r * (p - 1.0))))
        phi = F.when(rho == 0.0, F.asin(F.lit(c["sp0"]))).otherwise(
            F.asin(F.cos(cang) * F.lit(c["sp0"])
                   + yn * F.sin(cang) * F.lit(c["cp0"]) / rho))
        lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
            F.atan2(xe * F.sin(cang),
                    rho * F.lit(c["cp0"]) * F.cos(cang)
                    - yn * F.lit(c["sp0"]) * F.sin(cang)))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def nsper_inverse_sql(x_expr: str, y_expr: str,
                      crs: str) -> tuple[str, str]:
    """The SAME near-sided-vertical-perspective inverse as SQL
    strings (for DuckDB oracles) — identical op order to
    :func:`_nsper_to_lonlat_fn` (Snyder 23-19/20)."""
    c = _nsper_consts(crs)
    p, r = c["p"], c["r"]
    rp1 = r * (p - 1.0)
    xe = f"(({x_expr}) - {c['fe']!r})"
    yn = f"(({y_expr}) - {c['fn']!r})"
    rho = f"sqrt({xe} * {xe} + {yn} * {yn})"
    root = (f"sqrt(1.0 - {rho} * {rho}"
            f" * {(p + 1.0) / (r * r * (p - 1.0))!r})")
    cang = (f"asin(({p!r} - {root}) / ({rp1!r} / {rho}"
            f" + {rho} / {rp1!r}))")
    phi = (f"(CASE WHEN {rho} = 0.0 THEN asin({c['sp0']!r}) ELSE "
           f"asin(cos({cang}) * {c['sp0']!r} + {yn} * sin({cang})"
           f" * {c['cp0']!r} / {rho}) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xe} * sin({cang}), {rho} * {c['cp0']!r}"
           f" * cos({cang}) - {yn} * {c['sp0']!r} * sin({cang})) END)")
    return (f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})")


#: spherical stereographic, ANY aspect (Snyder 21-2..21-4 / 20-14..
#: 20-18) — backs the CF `stereographic` grid-mapping name for
#: spherical datums; ellipsoidal non-polar stays with sterea/polar.
#: crs -> (R, k0, lat0, lon0, false easting, false northing)
STEREG_PARAMS: dict[str, tuple] = {}


def _stereg_azi_consts(crs: str) -> dict:
    """STEREG tuples reshaped to the (R, lat0, lon0, fe, fn) layout
    :func:`_azi_consts` expects (k0 read separately)."""
    r0, k0, lat0, lon0, fe, fn = STEREG_PARAMS[crs.upper()]
    return _azi_consts({crs.upper(): (r0, lat0, lon0, fe, fn)}, crs)


def _lonlat_to_stereg_fn(crs: str) -> ColumnTransform:
    c = _stereg_azi_consts(crs)
    k0 = STEREG_PARAMS[crs.upper()][1]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        dl = F.radians(lon - F.lit(c["lon0"]))
        phi = F.radians(lat)
        den = (F.lit(1.0) + F.lit(c["sp0"]) * F.sin(phi)
               + F.lit(c["cp0"]) * F.cos(phi) * F.cos(dl))
        k = F.lit(2.0 * k0) / den  # antipode: den -> 0, k -> inf
        x = F.lit(c["fe"]) + F.lit(c["r"]) * k * F.cos(phi) * F.sin(dl)
        y = F.lit(c["fn"]) + F.lit(c["r"]) * k * (
            F.lit(c["cp0"]) * F.sin(phi)
            - F.lit(c["sp0"]) * F.cos(phi) * F.cos(dl))
        return x, y

    return fwd


def _stereg_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _stereg_azi_consts(crs)
    k0 = STEREG_PARAMS[crs.upper()][1]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yn = y - F.lit(c["fn"])
        rho = F.sqrt(xe * xe + yn * yn)
        cang = F.lit(2.0) * F.atan(rho / F.lit(2.0 * c["r"] * k0))
        phi = F.when(rho == 0.0, F.asin(F.lit(c["sp0"]))).otherwise(
            F.asin(F.cos(cang) * F.lit(c["sp0"])
                   + yn * F.sin(cang) * F.lit(c["cp0"]) / rho))
        lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
            F.atan2(xe * F.sin(cang),
                    rho * F.lit(c["cp0"]) * F.cos(cang)
                    - yn * F.lit(c["sp0"]) * F.sin(cang)))
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def stereg_inverse_sql(x_expr: str, y_expr: str,
                       crs: str) -> tuple[str, str]:
    """The SAME spherical-stereographic inverse as SQL strings (for
    DuckDB oracles).  Returns (lon_sql, lat_sql)."""
    r0, k0, lat0, lon0, fe, fn = STEREG_PARAMS[crs.upper()]
    sp0 = math.sin(math.radians(lat0))
    cp0 = math.cos(math.radians(lat0))
    xe = f"(({x_expr}) - {fe!r})"
    yn = f"(({y_expr}) - {fn!r})"
    rho = f"sqrt({xe} * {xe} + {yn} * {yn})"
    cang = f"(2.0 * atan({rho} / {2.0 * r0 * k0!r}))"
    phi = (f"(CASE WHEN {rho} = 0.0 THEN asin({sp0!r}) ELSE "
           f"asin(cos({cang}) * {sp0!r} + {yn} * sin({cang})"
           f" * {cp0!r} / {rho}) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xe} * sin({cang}), {rho} * {cp0!r}"
           f" * cos({cang}) - {yn} * {sp0!r} * sin({cang})) END)")
    return (f"({lon0!r} + degrees({lam}))", f"degrees({phi})")


def _lonlat_to_eqc_fn(crs: str) -> ColumnTransform:
    c = _eqc_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        x = (F.lit(c["fe"])
             + F.lit(c["rc"]) * F.radians(lon - F.lit(c["lon0"])))
        phi = F.radians(lat)
        if c["sphere"]:
            return x, F.lit(c["fn"]) + F.lit(c["ry"]) * phi
        # meridian arc M(phi) = a*ar*xi (Krueger rectifying series at
        # the central meridian, the TM family's machinery)
        sphi = F.sin(phi)
        t = F.sinh(F.atanh(sphi)
                   - F.lit(c["e"]) * F.atanh(F.lit(c["e"]) * sphi))
        xip = F.atan(t)
        xi = xip
        for j, aj in enumerate(c["alpha"], start=1):
            xi = xi + F.lit(aj) * F.sin(F.lit(2.0 * j) * xip)
        return x, F.lit(c["fn"]) + F.lit(c["ary"]) * xi

    return fwd


def _eqc_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _eqc_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        lon = (F.lit(c["lon0"])
               + F.degrees((x - F.lit(c["fe"])) / F.lit(c["rc"])))
        if c["sphere"]:
            return lon, F.degrees((y - F.lit(c["fn"])) / F.lit(c["ry"]))
        mu = (y - F.lit(c["fn"])) / F.lit(c["ary"])
        chi = mu
        for j, bj in enumerate(c["beta"], start=1):
            chi = chi - F.lit(bj) * F.sin(F.lit(2.0 * j) * mu)
        phi = chi
        for j, dj in enumerate(c["delta"], start=1):
            phi = phi + F.lit(dj) * F.sin(F.lit(2.0 * j) * chi)
        return lon, F.degrees(phi)

    return inv


def eqc_inverse_sql(x_expr: str, y_expr: str,
                    crs: str) -> tuple[str, str]:
    """The SAME equidistant-cylindrical inverse as SQL strings (for
    DuckDB oracles) — identical op order to :func:`_eqc_to_lonlat_fn`.
    Returns (lon_sql, lat_sql)."""
    c = _eqc_consts(crs)
    lon = (f"({c['lon0']!r} + degrees((({x_expr}) - {c['fe']!r})"
           f" / {c['rc']!r}))")
    if c["sphere"]:
        return lon, f"degrees((({y_expr}) - {c['fn']!r}) / {c['ry']!r})"
    mu = f"((({y_expr}) - {c['fn']!r}) / {c['ary']!r})"
    chi = mu
    for j, bj in enumerate(c["beta"], start=1):
        chi = f"({chi} - {bj!r} * sin(2.0 * {j} * {mu}))"
    phi = chi
    for j, dj in enumerate(c["delta"], start=1):
        phi = f"({phi} + {dj!r} * sin(2.0 * {j} * ({chi})))"
    return lon, f"degrees({phi})"


# ---- equidistant conic (+proj=eqdc; Snyder ch. 16) ----------------------

#: crs -> (a, rf, lat_1, lat_2, lat_0, lon_0, false easting, false
#: northing).  rf = inf -> spherical (Snyder 16-1..16-4; one or two
#: standard parallels), finite -> ellipsoidal (16-12..16-15, the
#: meridian arc via the Krueger rectifying series — the TM family's
#: machinery, same as ellipsoidal eqc).  Regional mid-latitude maps
#: (the classic conic where neither conformality nor equal-area is
#: wanted: meridian scale is true everywhere).
EQDC_PARAMS: dict[str, tuple] = {}


def _eqdc_consts(crs: str) -> dict:
    a, rf, lat1, lat2, lat0, lon0, fe, fn = EQDC_PARAMS[crs.upper()]
    p1, p2, p0 = (math.radians(lat1), math.radians(lat2),
                  math.radians(lat0))
    if math.isinf(rf):
        n = math.sin(p1) if lat1 == lat2 \
            else (math.cos(p1) - math.cos(p2)) / (p2 - p1)
        g = math.cos(p1) / n + p1
        # rho in metres: R folded in so sphere/ellipsoid share shape
        return dict(sphere=True, a=a, n=n, ag=a * g,
                    rho0=a * (g - p0), lon0=lon0, fe=fe, fn=fn)
    if lat1 == lat2:
        raise NotImplementedError(
            "eqdc (ellipsoidal): coincident standard parallels are "
            "not supported (give lat_1 != lat_2, or a sphere)")
    f = 1.0 / rf
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    alpha, beta, delta, ar = _tm_series(f)

    def m(p: float) -> float:  # Snyder 14-15
        s = math.sin(p)
        return math.cos(p) / math.sqrt(1.0 - e2 * s * s)

    def big_m(p: float) -> float:  # meridian arc (rectifying series)
        return a * ar * _tm_xi_scalar(p, e, alpha)

    n = a * (m(p1) - m(p2)) / (big_m(p2) - big_m(p1))  # Snyder 16-10
    g = m(p1) / n + big_m(p1) / a                      # Snyder 16-11
    return dict(sphere=False, a=a, e=e, alpha=alpha, beta=beta,
                delta=delta, ary=a * ar, n=n, ag=a * g,
                rho0=a * g - big_m(p0), lon0=lon0, fe=fe, fn=fn)


def _lonlat_to_eqdc_fn(crs: str) -> ColumnTransform:
    c = _eqdc_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        th = F.lit(c["n"]) * F.radians(lon - F.lit(c["lon0"]))
        if c["sphere"]:
            rho = F.lit(c["ag"]) - F.lit(c["a"]) * F.radians(lat)
        else:
            phi = F.radians(lat)
            sphi = F.sin(phi)
            t = F.sinh(F.atanh(sphi) - F.lit(c["e"])
                       * F.atanh(F.lit(c["e"]) * sphi))
            xip = F.atan(t)
            xi = xip
            for j, aj in enumerate(c["alpha"], start=1):
                xi = xi + F.lit(aj) * F.sin(F.lit(2.0 * j) * xip)
            rho = F.lit(c["ag"]) - F.lit(c["ary"]) * xi
        x = F.lit(c["fe"]) + rho * F.sin(th)
        y = F.lit(c["fn"]) + F.lit(c["rho0"]) - rho * F.cos(th)
        return x, y

    return fwd


def _eqdc_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _eqdc_consts(crs)
    sgn = 1.0 if c["n"] >= 0.0 else -1.0

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xe = x - F.lit(c["fe"])
        yr = F.lit(c["rho0"]) - (y - F.lit(c["fn"]))
        rho = F.lit(sgn) * F.sqrt(xe * xe + yr * yr)
        th = F.atan2(F.lit(sgn) * xe, F.lit(sgn) * yr)
        lam = th / F.lit(c["n"])
        if c["sphere"]:
            phi = (F.lit(c["ag"]) - rho) / F.lit(c["a"])
        else:
            mu = (F.lit(c["ag"]) - rho) / F.lit(c["ary"])
            chi = mu
            for j, bj in enumerate(c["beta"], start=1):
                chi = chi - F.lit(bj) * F.sin(F.lit(2.0 * j) * mu)
            phi = chi
            for j, dj in enumerate(c["delta"], start=1):
                phi = phi + F.lit(dj) * F.sin(F.lit(2.0 * j) * chi)
        return F.lit(c["lon0"]) + F.degrees(lam), F.degrees(phi)

    return inv


def eqdc_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME equidistant-conic inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_eqdc_to_lonlat_fn`.
    Returns (lon_sql, lat_sql)."""
    c = _eqdc_consts(crs)
    sgn = 1.0 if c["n"] >= 0.0 else -1.0
    xe = f"(({x_expr}) - {c['fe']!r})"
    yr = f"({c['rho0']!r} - (({y_expr}) - {c['fn']!r}))"
    rho = f"({sgn!r} * sqrt({xe} * {xe} + {yr} * {yr}))"
    lam = f"(atan2({sgn!r} * {xe}, {sgn!r} * {yr}) / {c['n']!r})"
    if c["sphere"]:
        phi = f"(({c['ag']!r} - {rho}) / {c['a']!r})"
    else:
        mu = f"(({c['ag']!r} - {rho}) / {c['ary']!r})"
        chi = mu
        for j, bj in enumerate(c["beta"], start=1):
            chi = f"({chi} - {bj!r} * sin(2.0 * {j} * {mu}))"
        phi = chi
        for j, dj in enumerate(c["delta"], start=1):
            phi = f"({phi} + {dj!r} * sin(2.0 * {j} * ({chi})))"
    return (f"({c['lon0']!r} + degrees({lam}))", f"degrees({phi})")


# ---- Swiss oblique Mercator (+proj=somerc) ----------------------------
#
# The Swiss "double projection" (swisstopo's published formulas; PROJ's
# somerc): ellipsoid -> conformal sphere (exponent alpha, constant K,
# conformal-sphere radius R at the projection centre), rotate the
# sphere so the centre becomes the pseudo-equator origin, then the
# equatorial spherical Mercator.  CH1903/LV03 (EPSG:21781) and
# CH1903+/LV95 (EPSG:2056) carry their published towgs84 translation
# (674.374, 15.056, 405.346 m) so WGS84 lon/lat reprojects through the
# same datum hop pyproj applies (the reference reaches both through
# pyproj, core/gridmapping/transform.py).  Forward validated against
# the swisstopo worked example (E 700000 / N 100000 <-> WGS84
# 8°43'49.79"E 46°02'38.87"N, <5 cm).

_CH_LAT0 = 46.0 + 57.0 / 60.0 + 8.66 / 3600.0
_CH_LON0 = 7.0 + 26.0 / 60.0 + 22.5 / 3600.0
#: CH1903(+) -> WGS84 position-vector Helmert (translation-only),
#: the published +towgs84=674.374,15.056,405.346
_CH_TOWGS84 = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)

#: crs -> (a, rf, lat0, lon0, k0, false easting, false northing,
#:         towgs84 7-tuple local->WGS84 or None)
SOMERC_PARAMS: dict[str, tuple] = {
    "EPSG:21781": (6_377_397.155, 299.1528128, _CH_LAT0, _CH_LON0,
                   1.0, 600_000.0, 200_000.0, _CH_TOWGS84),
    "EPSG:2056": (6_377_397.155, 299.1528128, _CH_LAT0, _CH_LON0,
                  1.0, 2_600_000.0, 1_200_000.0, _CH_TOWGS84),
}

#: fixed iteration count of the isometric->geodetic latitude solve
#: (same discipline as _STEREA_ITERS: both engines run the SAME count)
_SOMERC_ITERS = 4


def _somerc_consts(crs: str) -> dict:
    a, rf, lat0, lon0, k0, fe, fn, towgs84 = SOMERC_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phi0 = math.radians(lat0)
    s0 = math.sin(phi0)
    alpha = math.sqrt(1.0 + es * math.cos(phi0) ** 4 / (1.0 - es))
    big_r = k0 * a * math.sqrt(1.0 - es) / (1.0 - es * s0 * s0)
    b0 = math.asin(s0 / alpha)
    psi0 = (math.log(math.tan(math.pi / 4.0 + phi0 / 2.0))
            - e / 2.0 * math.log((1.0 + e * s0) / (1.0 - e * s0)))
    k_const = math.log(math.tan(math.pi / 4.0 + b0 / 2.0)) - alpha * psi0
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, e=e, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        alpha=alpha, big_r=big_r, k=k_const,
        sb0=math.sin(b0), cb0=math.cos(b0),
        lam0=math.radians(lon0), lon0=lon0, fe=fe, fn=fn,
        towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _datum_hop_fwd_stages(helm_fwd: tuple, a_l: float, es_l: float,
                          b_l: float, ep2_l: float) -> list[dict]:
    """WGS84 geodetic radians (``__lamw``/``__phiw``) -> local-datum
    geodetic radians (``__lam``/``__phi``) as FINE stages (one small
    expression per alias), mirroring _lonlat_to_osgb_fn: coarse
    stages that re-inline the whole geodetic->XYZ tree per output
    column send the optimizer into a multi-minute substitution
    blowup once the gather join is added."""
    return [
        {"__spw": lambda env: F.sin(env["__phiw"]),
         "__cpw": lambda env: F.cos(env["__phiw"])},
        {"__nuw": lambda env: F.lit(_WGS_A) / F.sqrt(
            F.lit(1.0) - F.lit(_WGS_E2)
            * env["__spw"] * env["__spw"])},
        {"__Xw": lambda env: env["__nuw"] * env["__cpw"]
            * F.cos(env["__lamw"]),
         "__Yw": lambda env: env["__nuw"] * env["__cpw"]
            * F.sin(env["__lamw"]),
         "__Zw": lambda env: env["__nuw"] * F.lit(1.0 - _WGS_E2)
            * env["__spw"]},
        {"__Xl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[0],
         "__Yl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[1],
         "__Zl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[2]},
        {"__pl": lambda env: F.sqrt(env["__Xl"] * env["__Xl"]
                                    + env["__Yl"] * env["__Yl"])},
        {"__thl": lambda env: F.atan2(env["__Zl"] * F.lit(a_l),
                                      env["__pl"] * F.lit(b_l))},
        {"__lam": lambda env: F.atan2(env["__Yl"], env["__Xl"]),
         "__phi": lambda env: F.atan2(
            env["__Zl"] + F.lit(ep2_l * b_l)
            * F.pow(F.sin(env["__thl"]), F.lit(3.0)),
            env["__pl"] - F.lit(es_l * a_l)
            * F.pow(F.cos(env["__thl"]), F.lit(3.0)))},
    ]


def _datum_hop_inv_stages(towgs84: tuple, a_l: float,
                          es_l: float) -> list[dict]:
    """Local-datum geodetic radians (``__lam``/``__phi``) -> WGS84
    degrees (``__out_x``/``__out_y``), same fine staging."""
    return [
        {"__sp": lambda env: F.sin(env["__phi"]),
         "__cp": lambda env: F.cos(env["__phi"])},
        {"__nu": lambda env: F.lit(a_l) / F.sqrt(
            F.lit(1.0) - F.lit(es_l) * env["__sp"] * env["__sp"])},
        {"__Xl": lambda env: env["__nu"] * env["__cp"]
            * F.cos(env["__lam"]),
         "__Yl": lambda env: env["__nu"] * env["__cp"]
            * F.sin(env["__lam"]),
         "__Zl": lambda env: env["__nu"] * F.lit(1.0 - es_l)
            * env["__sp"]},
        {"__Xw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[0],
         "__Yw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[1],
         "__Zw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[2]},
        {"__p": lambda env: F.sqrt(env["__Xw"] * env["__Xw"]
                                   + env["__Yw"] * env["__Yw"])},
        {"__th": lambda env: F.atan2(env["__Zw"] * F.lit(_WGS_A),
                                     env["__p"] * F.lit(_WGS_B))},
        {"__out_x": lambda env: F.degrees(
            F.atan2(env["__Yw"], env["__Xw"])),
         "__out_y": lambda env: F.degrees(F.atan2(
            env["__Zw"] + F.lit(_WGS_EP2 * _WGS_B)
            * F.pow(F.sin(env["__th"]), F.lit(3.0)),
            env["__p"] - F.lit(_WGS_E2 * _WGS_A)
            * F.pow(F.cos(env["__th"]), F.lit(3.0))))},
    ]


def datum_hop_inv_sql_ctes(prefix: str, n_start: int, towgs84: tuple,
                           a_l: float, es_l: float,
                           final_name: str, exclude: str) -> str:
    """The SAME local->WGS84 hop as SQL CTEs (for DuckDB oracles),
    identical op order to :func:`_datum_hop_inv_stages`.  Continues a
    chain whose CTE ``{prefix}{n_start}`` holds ``__lam``/``__phi``;
    emits ``{prefix}{n_start+1}..`` and finally ``{final_name}`` =
    source columns (minus ``exclude``) + ``lon``/``lat``."""
    tx, ty, tz, rx, ry, rz, s = towgs84
    m = repr(1.0 + s)
    return f""", {prefix}{n_start + 1} AS (
            SELECT *, ({a_l!r} / sqrt(1.0 - {es_l!r} * sin(__phi)
                       * sin(__phi))) AS __nu
            FROM {prefix}{n_start}
        ), {prefix}{n_start + 2} AS (
            SELECT *, (__nu * cos(__phi) * cos(__lam)) AS __Xl,
                      (__nu * cos(__phi) * sin(__lam)) AS __Yl,
                      (__nu * {1.0 - es_l!r} * sin(__phi)) AS __Zl
            FROM {prefix}{n_start + 1}
        ), {prefix}{n_start + 3} AS (
            SELECT *, ({tx!r} + {m} * __Xl - {rz!r} * __Yl
                       + {ry!r} * __Zl) AS __Xw,
                      ({ty!r} + {rz!r} * __Xl + {m} * __Yl
                       - {rx!r} * __Zl) AS __Yw,
                      ({tz!r} - {ry!r} * __Xl + {rx!r} * __Yl
                       + {m} * __Zl) AS __Zw
            FROM {prefix}{n_start + 2}
        ), {prefix}{n_start + 4} AS (
            SELECT *, sqrt(__Xw * __Xw + __Yw * __Yw) AS __p
            FROM {prefix}{n_start + 3}
        ), {prefix}{n_start + 5} AS (
            SELECT *, atan2(__Zw * {_WGS_A!r}, __p * {_WGS_B!r})
                      AS __th
            FROM {prefix}{n_start + 4}
        ), {final_name} AS (
            SELECT * EXCLUDE ({exclude}, __nu, __Xl, __Yl, __Zl,
                              __Xw, __Yw, __Zw, __p, __th),
                   degrees(atan2(__Yw, __Xw)) AS lon,
                   degrees(atan2(
                       __Zw + {_WGS_EP2 * _WGS_B!r} * pow(sin(__th), 3),
                       __p - {_WGS_E2 * _WGS_A!r} * pow(cos(__th), 3)))
                   AS lat
            FROM {prefix}{n_start + 5}
        )"""


def _lonlat_to_somerc_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg; WGS84 when the CRS carries a towgs84, else the
    projection ellipsoid's own datum) -> Swiss-Mercator E/N."""
    c = _somerc_consts(crs)
    e, es, alpha = c["e"], c["es"], c["alpha"]

    stages: list[dict] = [
        {"__lamw": lambda env: F.radians(env["__in_x"]),
         "__phiw": lambda env: F.radians(env["__in_y"])},
    ]
    if c["helm_fwd"] is not None:
        stages += _datum_hop_fwd_stages(
            c["helm_fwd"], c["a"], es, c["b_ell"], c["ep2"])
    else:
        stages.append({"__lam": lambda env: env["__lamw"],
                       "__phi": lambda env: env["__phiw"]})

    def s_psi(env):
        s = F.sin(env["__phi"])
        return (F.log(F.tan(F.lit(math.pi / 4.0) + env["__phi"]
                            / F.lit(2.0)))
                - F.lit(e / 2.0) * F.log((F.lit(1.0) + F.lit(e) * s)
                                         / (F.lit(1.0) - F.lit(e) * s)))

    def s_b(env):
        return (F.lit(2.0) * F.atan(F.exp(
            F.lit(alpha) * env["__psi"] + F.lit(c["k"])))
            - F.lit(math.pi / 2.0))

    def s_l(env):
        return F.lit(alpha) * (env["__lam"] - F.lit(c["lam0"]))

    def s_sbb(env):
        return (F.lit(c["cb0"]) * F.sin(env["__b"])
                - F.lit(c["sb0"]) * F.cos(env["__b"])
                * F.cos(env["__l"]))

    def out_x(env):
        xp = (F.lit(c["cb0"]) * F.cos(env["__b"]) * F.cos(env["__l"])
              + F.lit(c["sb0"]) * F.sin(env["__b"]))
        yp = F.cos(env["__b"]) * F.sin(env["__l"])
        return F.lit(c["fe"]) + F.lit(c["big_r"]) * F.atan2(yp, xp)

    def out_y(env):
        sbb = env["__sbb"]
        return (F.lit(c["fn"]) + F.lit(c["big_r"]) / F.lit(2.0)
                * F.log((F.lit(1.0) + sbb) / (F.lit(1.0) - sbb)))

    stages += [
        {"__psi": s_psi},
        {"__b": s_b, "__l": s_l},
        {"__sbb": s_sbb},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return StagedTransform(stages)


def _somerc_to_lonlat_fn(crs: str) -> "StagedTransform":
    """E/N -> lon/lat: spherical Mercator inverse, un-rotate, then the
    fixed-count isometric->geodetic solve; a Bessel->WGS84 datum hop
    when the CRS carries a towgs84."""
    c = _somerc_consts(crs)
    e, es, alpha = c["e"], c["es"], c["alpha"]

    def s_lbar(env):
        return (env["__in_x"] - F.lit(c["fe"])) / F.lit(c["big_r"])

    def s_bbar(env):
        return (F.lit(2.0) * F.atan(F.exp(
            (env["__in_y"] - F.lit(c["fn"])) / F.lit(c["big_r"])))
            - F.lit(math.pi / 2.0))

    def s_b(env):
        return F.asin(F.lit(c["cb0"]) * F.sin(env["__bb"])
                      + F.lit(c["sb0"]) * F.cos(env["__bb"])
                      * F.cos(env["__lb"]))

    def s_lam(env):
        return F.lit(c["lam0"]) + F.atan2(
            F.cos(env["__bb"]) * F.sin(env["__lb"]),
            F.lit(c["cb0"]) * F.cos(env["__bb"]) * F.cos(env["__lb"])
            - F.lit(c["sb0"]) * F.sin(env["__bb"])) / F.lit(alpha)

    def s_psit(env):
        return (F.log(F.tan(F.lit(math.pi / 4.0) + env["__b"]
                            / F.lit(2.0)))
                - F.lit(c["k"])) / F.lit(alpha)

    def s_phi0(env):
        return (F.lit(2.0) * F.atan(F.exp(env["__psit"]))
                - F.lit(math.pi / 2.0))

    def step(env):
        phi = env["__phi"]
        sphi = F.sin(phi)
        psii = (F.log(F.tan(phi / F.lit(2.0) + F.lit(math.pi / 4.0)))
                - F.lit(e / 2.0)
                * F.log((F.lit(1.0) + F.lit(e) * sphi)
                        / (F.lit(1.0) - F.lit(e) * sphi)))
        return phi - (psii - env["__psit"]) * F.cos(phi) \
            * (F.lit(1.0) - F.lit(es) * sphi * sphi) / F.lit(1.0 - es)

    stages: list[dict] = [
        {"__lb": s_lbar, "__bb": s_bbar},
        {"__b": s_b},
        {"__lam": s_lam, "__psit": s_psit},
        {"__phi": s_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_SOMERC_ITERS)]
    if c["towgs84"] is None:
        stages.append({"__out_x": lambda env: F.degrees(env["__lam"]),
                       "__out_y": lambda env: F.degrees(env["__phi"])})
        return StagedTransform(stages)
    stages += _datum_hop_inv_stages(c["towgs84"], c["a"], es)
    return StagedTransform(stages)


def somerc_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                            src: str = "tgt") -> str:
    """The SAME Swiss-Mercator inverse as a chain of CTEs over ``src``
    (for DuckDB oracles) — identical arithmetic and iteration count to
    :func:`_somerc_to_lonlat_fn`, incl. the Bessel->WGS84 Helmert hop
    for the EPSG codes.  Emits CTEs ``sw1..`` and finally
    ``somerc_ll`` = ``src`` columns + ``lon``/``lat``."""
    c = _somerc_consts(crs)
    e, es, alpha = c["e"], c["es"], c["alpha"]
    iters = "".join(f"""), sw{5 + k} AS (
            SELECT * EXCLUDE (__phi), (__phi - ((ln(tan(__phi / 2.0
                + {math.pi / 4.0!r})) - {e / 2.0!r}
                * ln((1.0 + {e!r} * sin(__phi))
                     / (1.0 - {e!r} * sin(__phi)))) - __psit)
                * cos(__phi) * (1.0 - {es!r} * sin(__phi) * sin(__phi))
                / {1.0 - es!r}) AS __phi
            FROM sw{4 + k}""" for k in range(_SOMERC_ITERS))
    n_last = 4 + _SOMERC_ITERS
    head = f"""sw1 AS (
            SELECT *, ((({x_expr}) - {c['fe']!r}) / {c['big_r']!r})
                      AS __lb,
                   (2.0 * atan(exp(((({y_expr}) - {c['fn']!r})
                       / {c['big_r']!r}))) - {math.pi / 2.0!r}) AS __bb
            FROM {src}
        ), sw2 AS (
            SELECT *, asin({c['cb0']!r} * sin(__bb)
                           + {c['sb0']!r} * cos(__bb) * cos(__lb))
                      AS __b
            FROM sw1
        ), sw3 AS (
            SELECT *, ({c['lam0']!r} + atan2(cos(__bb) * sin(__lb),
                           {c['cb0']!r} * cos(__bb) * cos(__lb)
                           - {c['sb0']!r} * sin(__bb)) / {alpha!r})
                      AS __lam,
                   ((ln(tan({math.pi / 4.0!r} + __b / 2.0))
                     - {c['k']!r}) / {alpha!r}) AS __psit
            FROM sw2
        ), sw4 AS (
            SELECT *, (2.0 * atan(exp(__psit)) - {math.pi / 2.0!r})
                      AS __phi
            FROM sw3
        {iters})"""
    if c["towgs84"] is None:
        return head + f""", somerc_ll AS (
            SELECT * EXCLUDE (__lb, __bb, __b, __lam, __psit, __phi),
                   degrees(__lam) AS lon, degrees(__phi) AS lat
            FROM sw{n_last}
        )"""
    return head + datum_hop_inv_sql_ctes(
        "sw", n_last, c["towgs84"], c["a"], es, "somerc_ll",
        "__lb, __bb, __b, __lam, __psit, __phi")


# ---- Krovak (+proj=krovak, S-JTSK) ------------------------------------
#
# EPSG method 9819: conformal sphere (Gauss exponent B, constant t0),
# rotate onto the oblique cone axis (co-latitude alphaC through the
# pseudo standard parallel phiP), then a tangent conic.  The axis
# meridian is 42°30' east of Ferro = 24°50' east of Greenwich (PROJ's
# +lon_0 spelling, which this family follows); the EPSG GN7-2 worked
# example reproduces to <2 cm (tests).  EPSG:5514 (Krovak East
# North, the Czech/Slovak national CRS) carries its published towgs84
# translation (589, 76, 480) so WGS84 lon/lat hops datums like
# pyproj; its E/N axes are the NEGATED westing/southing.  +czech in a
# PROJ string selects positive southing/westing instead (EPSG:2065
# axis convention).

#: crs -> (a, rf, latC, lon0 [Greenwich], alphaC, phiP, kP,
#:         x_0, y_0, czech_sign, towgs84 local->WGS84 or None)
KROVAK_PARAMS: dict[str, tuple] = {
    "EPSG:5514": (6_377_397.155, 299.1528128, 49.5,
                  24.0 + 50.0 / 60.0,
                  30.0 + 17.0 / 60.0 + 17.3031 / 3600.0,
                  78.5, 0.9999, 0.0, 0.0, False,
                  (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0)),
}

#: fixed iteration count of the conformal->geodetic latitude solve
_KROVAK_ITERS = 4


def _krovak_consts(crs: str) -> dict:
    (a, rf, lat_c, lon0, alpha_c, phi_p, kp, x0, y0, czech,
     towgs84) = KROVAK_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phic = math.radians(lat_c)
    sc = math.sin(phic)
    big_a = a * math.sqrt(1.0 - es) / (1.0 - es * sc * sc)
    b = math.sqrt(1.0 + es * math.cos(phic) ** 4 / (1.0 - es))
    gamma0 = math.asin(sc / b)
    t0 = (math.tan(math.pi / 4.0 + gamma0 / 2.0)
          * ((1.0 + e * sc) / (1.0 - e * sc)) ** (e * b / 2.0)
          / math.tan(math.pi / 4.0 + phic / 2.0) ** b)
    phip = math.radians(phi_p)
    n = math.sin(phip)
    r0 = kp * big_a / math.tan(phip)
    alphac = math.radians(alpha_c)
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, e=e, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        b=b, t0=t0, n=n, r0=r0,
        sa=math.sin(alphac), ca=math.cos(alphac),
        tp=math.tan(math.pi / 4.0 + phip / 2.0),
        lam0=math.radians(lon0), x0=x0, y0=y0,
        sgn=1.0 if czech else -1.0, towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _lonlat_to_krovak_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg; WGS84 when the CRS carries a towgs84) -> Krovak
    E/N (EPSG 9819 forward, staged)."""
    c = _krovak_consts(crs)
    e, es, b = c["e"], c["es"], c["b"]

    stages: list[dict] = [
        {"__lamw": lambda env: F.radians(env["__in_x"]),
         "__phiw": lambda env: F.radians(env["__in_y"])},
    ]
    if c["helm_fwd"] is not None:
        stages += _datum_hop_fwd_stages(
            c["helm_fwd"], c["a"], es, c["b_ell"], c["ep2"])
    else:
        stages.append({"__lam": lambda env: env["__lamw"],
                       "__phi": lambda env: env["__phiw"]})

    def s_u(env):
        s = F.sin(env["__phi"])
        return F.lit(2.0) * (F.atan(
            F.lit(c["t0"])
            * F.pow(F.tan(env["__phi"] / F.lit(2.0)
                          + F.lit(math.pi / 4.0)), F.lit(b))
            / F.pow((F.lit(1.0) + F.lit(e) * s)
                    / (F.lit(1.0) - F.lit(e) * s), F.lit(e * b / 2.0)))
            - F.lit(math.pi / 4.0))

    def s_v(env):
        return F.lit(b) * (F.lit(c["lam0"]) - env["__lam"])

    def s_t(env):
        return F.asin(F.lit(c["ca"]) * F.sin(env["__U"])
                      + F.lit(c["sa"]) * F.cos(env["__U"])
                      * F.cos(env["__V"]))

    def s_d(env):
        return F.asin(F.cos(env["__U"]) * F.sin(env["__V"])
                      / F.cos(env["__T"]))

    def s_r(env):
        return (F.lit(c["r0"]) * F.lit(c["tp"] ** c["n"])
                / F.pow(F.tan(env["__T"] / F.lit(2.0)
                              + F.lit(math.pi / 4.0)), F.lit(c["n"])))

    def out_x(env):  # easting = sgn * westing + x_0
        return (F.lit(c["sgn"]) * env["__r"]
                * F.sin(F.lit(c["n"]) * env["__D"]) + F.lit(c["x0"]))

    def out_y(env):  # northing = sgn * southing + y_0
        return (F.lit(c["sgn"]) * env["__r"]
                * F.cos(F.lit(c["n"]) * env["__D"]) + F.lit(c["y0"]))

    stages += [
        {"__U": s_u, "__V": s_v},
        {"__T": s_t},
        {"__D": s_d, "__r": s_r},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return StagedTransform(stages)


def _krovak_to_lonlat_fn(crs: str) -> "StagedTransform":
    """Krovak E/N -> lon/lat (EPSG 9819 inverse): un-cone, un-rotate,
    then the fixed-count conformal->geodetic solve; a Bessel->WGS84
    hop when the CRS carries a towgs84."""
    c = _krovak_consts(crs)
    e, es, b = c["e"], c["es"], c["b"]

    def s_xs(env):  # southing
        return F.lit(c["sgn"]) * (env["__in_y"] - F.lit(c["y0"]))

    def s_yw(env):  # westing
        return F.lit(c["sgn"]) * (env["__in_x"] - F.lit(c["x0"]))

    def s_r(env):
        return F.sqrt(env["__sth"] * env["__sth"]
                      + env["__wst"] * env["__wst"])

    def s_d(env):
        return F.atan2(env["__wst"], env["__sth"]) / F.lit(c["n"])

    def s_t(env):
        return F.lit(2.0) * (F.atan(
            F.pow(F.lit(c["r0"]) / env["__r"], F.lit(1.0 / c["n"]))
            * F.lit(c["tp"])) - F.lit(math.pi / 4.0))

    def s_u(env):
        return F.asin(F.lit(c["ca"]) * F.sin(env["__T"])
                      - F.lit(c["sa"]) * F.cos(env["__T"])
                      * F.cos(env["__D"]))

    def s_lam(env):
        return F.lit(c["lam0"]) - F.asin(
            F.cos(env["__T"]) * F.sin(env["__D"])
            / F.cos(env["__U"])) / F.lit(b)

    def s_phi0(env):
        return env["__U"]

    def step(env):
        s = F.sin(env["__phi"])
        return F.lit(2.0) * (F.atan(
            F.lit(c["t0"] ** (-1.0 / b))
            * F.pow(F.tan(env["__U"] / F.lit(2.0)
                          + F.lit(math.pi / 4.0)), F.lit(1.0 / b))
            * F.pow((F.lit(1.0) + F.lit(e) * s)
                    / (F.lit(1.0) - F.lit(e) * s), F.lit(e / 2.0)))
            - F.lit(math.pi / 4.0))

    stages: list[dict] = [
        {"__sth": s_xs, "__wst": s_yw},
        {"__r": s_r},
        {"__D": s_d, "__T": s_t},
        {"__U": s_u},
        {"__lam": s_lam, "__phi": s_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_KROVAK_ITERS)]
    if c["towgs84"] is None:
        stages.append({"__out_x": lambda env: F.degrees(env["__lam"]),
                       "__out_y": lambda env: F.degrees(env["__phi"])})
        return StagedTransform(stages)
    stages += _datum_hop_inv_stages(c["towgs84"], c["a"], es)
    return StagedTransform(stages)


def krovak_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                            src: str = "tgt") -> str:
    """The SAME Krovak inverse as a chain of CTEs over ``src`` (for
    DuckDB oracles) — identical arithmetic and iteration count to
    :func:`_krovak_to_lonlat_fn`, incl. the datum hop.  Emits CTEs
    ``kv1..`` and finally ``krovak_ll`` = ``src`` columns +
    ``lon``/``lat``."""
    c = _krovak_consts(crs)
    e, es, b = c["e"], c["es"], c["b"]
    iters = "".join(f"""), kv{6 + k} AS (
            SELECT * EXCLUDE (__phi), (2.0 * (atan({c['t0'] ** (-1.0 / b)!r}
                * pow(tan(__U / 2.0 + {math.pi / 4.0!r}), {1.0 / b!r})
                * pow((1.0 + {e!r} * sin(__phi))
                      / (1.0 - {e!r} * sin(__phi)), {e / 2.0!r}))
                - {math.pi / 4.0!r})) AS __phi
            FROM kv{5 + k}""" for k in range(_KROVAK_ITERS))
    n_last = 5 + _KROVAK_ITERS
    head = f"""kv1 AS (
            SELECT *, ({c['sgn']!r} * (({y_expr}) - {c['y0']!r}))
                      AS __sth,
                      ({c['sgn']!r} * (({x_expr}) - {c['x0']!r}))
                      AS __wst
            FROM {src}
        ), kv2 AS (
            SELECT *, sqrt(__sth * __sth + __wst * __wst) AS __r FROM kv1
        ), kv3 AS (
            SELECT *, (atan2(__wst, __sth) / {c['n']!r}) AS __D,
                   (2.0 * (atan(pow({c['r0']!r} / __r, {1.0 / c['n']!r})
                                * {c['tp']!r}) - {math.pi / 4.0!r}))
                   AS __T
            FROM kv2
        ), kv4 AS (
            SELECT *, asin({c['ca']!r} * sin(__T)
                           - {c['sa']!r} * cos(__T) * cos(__D)) AS __U
            FROM kv3
        ), kv5 AS (
            SELECT *, ({c['lam0']!r} - asin(cos(__T) * sin(__D)
                                            / cos(__U)) / {b!r})
                      AS __lam,
                   __U AS __phi
            FROM kv4
        {iters})"""
    if c["towgs84"] is None:
        return head + f""", krovak_ll AS (
            SELECT * EXCLUDE (__sth, __wst, __r, __D, __T, __U, __lam,
                              __phi),
                   degrees(__lam) AS lon, degrees(__phi) AS lat
            FROM kv{n_last}
        )"""
    return head + datum_hop_inv_sql_ctes(
        "kv", n_last, c["towgs84"], c["a"], es, "krovak_ll",
        "__sth, __wst, __r, __D, __T, __U, __lam, __phi")


# ---- Equal Earth (+proj=eqearth, EPSG:8857) ---------------------------
#
# The Savric/Patterson/Jenny (2018) equal-area pseudocylindrical:
# y = Rq h(theta) with the published 4-term polynomial h, x = Rq
# lambda cos(theta) / (M h'(theta)), sin(theta) = M sin(beta),
# M = sqrt(3)/2.  EPSG:8857 (method 1078) runs it on the WGS84
# AUTHALIC sphere (beta = authalic latitude, Rq = a sqrt(qp/2));
# +R spherical forms use beta = phi directly.  Anchored on the
# published EPSG:8857 projected extent (+-17243959.06 m x
# +-8392927.60 m) and the equal-area property (tests).

#: the published projection polynomial
_EQE_A1, _EQE_A2, _EQE_A3, _EQE_A4 = 1.340264, -0.081106, 0.000893, 0.003796
_EQE_M = math.sqrt(3.0) / 2.0

#: crs -> (a, rf, lon0, false easting, false northing)
EQEARTH_PARAMS: dict[str, tuple] = {
    "EPSG:8857": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0),
}

#: fixed Newton iteration count of the theta solve (both engines run
#: the same count; quadratic from theta0 = y/(Rq A1))
_EQE_ITERS = 5


def _eqearth_consts(crs: str) -> dict:
    a, rf, lon0, fe, fn = EQEARTH_PARAMS[crs.upper()]
    if math.isinf(rf):
        return dict(a=a, es=0.0, e=0.0, sphere=True, qp=2.0, rq=a,
                    lon0=lon0, fe=fe, fn=fn, c2=0.0, c4=0.0, c6=0.0)
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    qp = (1.0 - es) * (1.0 / (1.0 - es)
                       - 1.0 / (2.0 * e)
                       * math.log((1.0 - e) / (1.0 + e)))
    return dict(
        a=a, es=es, e=e, sphere=False, qp=qp,
        rq=a * math.sqrt(qp / 2.0), lon0=lon0, fe=fe, fn=fn,
        # authalic -> geodetic series (Snyder eq. 3-18)
        c2=es / 3.0 + 31.0 * es ** 2 / 180.0 + 517.0 * es ** 3 / 5040.0,
        c4=23.0 * es ** 2 / 360.0 + 251.0 * es ** 3 / 3780.0,
        c6=761.0 * es ** 3 / 45360.0,
    )


def _eqe_h(t):
    """h(theta) as a Column expression (op order shared with the SQL
    twin)."""
    return (t * (F.lit(_EQE_A1) + F.lit(_EQE_A2) * t * t)
            + F.pow(t, F.lit(7.0)) * (F.lit(_EQE_A3)
                                      + F.lit(_EQE_A4) * t * t))


def _eqe_hp(t):
    return (F.lit(_EQE_A1) + F.lit(3.0 * _EQE_A2) * t * t
            + F.pow(t, F.lit(6.0)) * (F.lit(7.0 * _EQE_A3)
                                      + F.lit(9.0 * _EQE_A4) * t * t))


def _lonlat_to_eqearth_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg) -> Equal Earth E/N (staged)."""
    c = _eqearth_consts(crs)
    e, es = c["e"], c["es"]

    def s_beta(env):
        phi = F.radians(env["__in_y"])
        if c["sphere"]:
            return phi
        s = F.sin(phi)
        q = F.lit(1.0 - es) * (
            s / (F.lit(1.0) - F.lit(es) * s * s)
            - F.lit(1.0 / (2.0 * e))
            * F.log((F.lit(1.0) - F.lit(e) * s)
                    / (F.lit(1.0) + F.lit(e) * s)))
        return F.asin(q / F.lit(c["qp"]))

    def s_th(env):
        return F.asin(F.lit(_EQE_M) * F.sin(env["__beta"]))

    def out_x(env):
        th = env["__th"]
        return (F.lit(c["fe"]) + F.lit(c["rq"])
                * F.radians(env["__in_x"] - F.lit(c["lon0"]))
                * F.cos(th) / (F.lit(_EQE_M) * _eqe_hp(th)))

    def out_y(env):
        return F.lit(c["fn"]) + F.lit(c["rq"]) * _eqe_h(env["__th"])

    return StagedTransform([
        {"__beta": s_beta},
        {"__th": s_th},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _eqearth_to_lonlat_fn(crs: str) -> "StagedTransform":
    """Equal Earth E/N -> lon/lat: fixed-count Newton theta solve,
    then the authalic->geodetic series."""
    c = _eqearth_consts(crs)

    def s_yn(env):
        return (env["__in_y"] - F.lit(c["fn"])) / F.lit(c["rq"])

    def s_th0(env):
        return env["__yn"] / F.lit(_EQE_A1)

    def step(env):
        th = env["__th"]
        return th - (_eqe_h(th) - env["__yn"]) / _eqe_hp(th)

    def s_beta(env):
        return F.asin(F.sin(env["__th"]) / F.lit(_EQE_M))

    def out_x(env):
        th = env["__th"]
        return F.lit(c["lon0"]) + F.degrees(
            (env["__in_x"] - F.lit(c["fe"])) * _eqe_hp(th)
            * F.lit(_EQE_M) / (F.lit(c["rq"]) * F.cos(th)))

    def out_y(env):
        b = env["__beta"]
        if c["sphere"]:
            return F.degrees(b)
        return F.degrees(
            b + F.lit(c["c2"]) * F.sin(F.lit(2.0) * b)
            + F.lit(c["c4"]) * F.sin(F.lit(4.0) * b)
            + F.lit(c["c6"]) * F.sin(F.lit(6.0) * b))

    stages: list[dict] = [{"__yn": s_yn}, {"__th": s_th0}]
    stages += [{"__th": step} for _ in range(_EQE_ITERS)]
    stages += [{"__beta": s_beta},
               {"__out_x": out_x, "__out_y": out_y}]
    return StagedTransform(stages)


def eqearth_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                             src: str = "tgt") -> str:
    """The SAME Equal Earth inverse as a chain of CTEs over ``src``
    (for DuckDB oracles) — identical arithmetic and iteration count
    to :func:`_eqearth_to_lonlat_fn`.  Emits CTEs ``ee1..`` and
    finally ``eqearth_ll`` = ``src`` columns + ``lon``/``lat``."""
    c = _eqearth_consts(crs)

    def h(t):
        return (f"({t} * ({_EQE_A1!r} + {_EQE_A2!r} * {t} * {t}) "
                f"+ pow({t}, 7.0) * ({_EQE_A3!r} + {_EQE_A4!r} "
                f"* {t} * {t}))")

    def hp(t):
        return (f"({_EQE_A1!r} + {3.0 * _EQE_A2!r} * {t} * {t} "
                f"+ pow({t}, 6.0) * ({7.0 * _EQE_A3!r} "
                f"+ {9.0 * _EQE_A4!r} * {t} * {t}))")

    iters = "".join(f"""), ee{3 + k} AS (
            SELECT * EXCLUDE (__th),
                   (__th - ({h('__th')} - __yn) / {hp('__th')}) AS __th
            FROM ee{2 + k}""" for k in range(_EQE_ITERS))
    n_last = 2 + _EQE_ITERS
    lat_sql = ("degrees(__beta)" if c["sphere"] else
               f"""degrees(__beta + {c['c2']!r} * sin(2.0 * __beta)
                   + {c['c4']!r} * sin(4.0 * __beta)
                   + {c['c6']!r} * sin(6.0 * __beta))""")
    return f"""ee1 AS (
            SELECT *, ((({y_expr}) - {c['fn']!r}) / {c['rq']!r})
                      AS __yn,
                   (({x_expr}) - {c['fe']!r}) AS __xe
            FROM {src}
        ), ee2 AS (
            SELECT *, (__yn / {_EQE_A1!r}) AS __th FROM ee1
        {iters}), ee{n_last + 1} AS (
            SELECT *, asin(sin(__th) / {_EQE_M!r}) AS __beta
            FROM ee{n_last}
        ), eqearth_ll AS (
            SELECT * EXCLUDE (__yn, __xe, __th, __beta),
                   ({c['lon0']!r} + degrees(__xe * {hp('__th')}
                       * {_EQE_M!r} / ({c['rq']!r} * cos(__th))))
                   AS lon,
                   {lat_sql} AS lat
            FROM ee{n_last + 1}
        )"""


# ---- Cassini-Soldner (+proj=cass) -------------------------------------
#
# EPSG method 9806 (the GN7-2 series forms, reproduced sub-mm on the
# published Trinidad worked example — tests).  EPSG:30200 (Trinidad
# 1903 / Trinidad Grid) works in CLARKE'S LINKS: the family's linear
# unit is whatever the parameter set is stated in, exactly like the
# reference reaches it through pyproj.  Datum-less (the GN7-2
# example's geodetic input is Trinidad 1903).

#: crs -> (a, rf, lat0, lon0, false easting, false northing)
CASS_PARAMS: dict[str, tuple] = {
    # Trinidad 1903 / Trinidad Grid — Clarke 1858, Clarke's links
    "EPSG:30200": (31_706_587.88, 294.260676369,
                   10.0 + 26.0 / 60.0 + 30.0 / 3600.0,
                   -(61.0 + 20.0 / 60.0), 430_000.0, 325_000.0),
}


def _cass_consts(crs: str) -> dict:
    a, rf, lat0, lon0, fe, fn = CASS_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    m_c0 = 1.0 - es / 4.0 - 3.0 * es * es / 64.0 - 5.0 * es ** 3 / 256.0
    m_c2 = 3.0 * es / 8.0 + 3.0 * es * es / 32.0 + 45.0 * es ** 3 / 1024.0
    m_c4 = 15.0 * es * es / 256.0 + 45.0 * es ** 3 / 1024.0
    m_c6 = 35.0 * es ** 3 / 3072.0
    phi0 = math.radians(lat0)
    m0 = a * (m_c0 * phi0 - m_c2 * math.sin(2.0 * phi0)
              + m_c4 * math.sin(4.0 * phi0)
              - m_c6 * math.sin(6.0 * phi0))
    e1 = (1.0 - math.sqrt(1.0 - es)) / (1.0 + math.sqrt(1.0 - es))
    return dict(
        a=a, es=es, fe=fe, fn=fn, lam0=math.radians(lon0), lon0=lon0,
        m0=m0, m_c0=m_c0, m_c2=m_c2, m_c4=m_c4, m_c6=m_c6,
        f1_2=3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0,
        f1_4=21.0 * e1 * e1 / 16.0 - 55.0 * e1 ** 4 / 32.0,
        f1_6=151.0 * e1 ** 3 / 96.0,
    )


def _lonlat_to_cass_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg) -> Cassini-Soldner E/N (EPSG 9806 forward)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]

    def s_trig(env):
        return F.radians(env["__in_y"])

    def s_t(env):
        t = F.tan(env["__phi"])
        return t * t

    def s_aa(env):
        return ((F.radians(env["__in_x"]) - F.lit(c["lam0"]))
                * F.cos(env["__phi"]))

    def s_c(env):
        cp = F.cos(env["__phi"])
        return F.lit(es) * cp * cp / F.lit(1.0 - es)

    def s_nu(env):
        s = F.sin(env["__phi"])
        return F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(es) * s * s)

    def s_m(env):
        phi = env["__phi"]
        return F.lit(a) * (
            F.lit(c["m_c0"]) * phi
            - F.lit(c["m_c2"]) * F.sin(F.lit(2.0) * phi)
            + F.lit(c["m_c4"]) * F.sin(F.lit(4.0) * phi)
            - F.lit(c["m_c6"]) * F.sin(F.lit(6.0) * phi))

    def out_x(env):
        aa, t = env["__A"], env["__T"]
        return F.lit(c["fe"]) + env["__nu"] * (
            aa - t * F.pow(aa, F.lit(3.0)) / F.lit(6.0)
            - (F.lit(8.0) - t + F.lit(8.0) * env["__C"]) * t
            * F.pow(aa, F.lit(5.0)) / F.lit(120.0))

    def out_y(env):
        aa, t = env["__A"], env["__T"]
        return (F.lit(c["fn"]) + env["__M"] - F.lit(c["m0"])
                + env["__nu"] * F.tan(env["__phi"]) * (
                    aa * aa / F.lit(2.0)
                    + (F.lit(5.0) - t + F.lit(6.0) * env["__C"])
                    * F.pow(aa, F.lit(4.0)) / F.lit(24.0)))

    return StagedTransform([
        {"__phi": s_trig},
        {"__T": s_t, "__A": s_aa, "__C": s_c, "__nu": s_nu,
         "__M": s_m},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _cass_to_lonlat_fn(crs: str) -> "StagedTransform":
    """Cassini-Soldner E/N -> lon/lat (EPSG 9806 inverse: rectifying
    latitude series, then the transverse D-expansion)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]

    def s_mu(env):
        return ((F.lit(c["m0"]) + (env["__in_y"] - F.lit(c["fn"])))
                / F.lit(a * c["m_c0"]))

    def s_phi1(env):
        mu = env["__mu"]
        return (mu + F.lit(c["f1_2"]) * F.sin(F.lit(2.0) * mu)
                + F.lit(c["f1_4"]) * F.sin(F.lit(4.0) * mu)
                + F.lit(c["f1_6"]) * F.sin(F.lit(6.0) * mu))

    def s_t1(env):
        t = F.tan(env["__phi1"])
        return t * t

    def s_nu1(env):
        s = F.sin(env["__phi1"])
        return F.lit(a) / F.sqrt(F.lit(1.0) - F.lit(es) * s * s)

    def s_rho1(env):
        s = F.sin(env["__phi1"])
        return (F.lit(a * (1.0 - es))
                / F.pow(F.lit(1.0) - F.lit(es) * s * s, F.lit(1.5)))

    def s_d(env):
        return (env["__in_x"] - F.lit(c["fe"])) / env["__nu1"]

    def out_y(env):
        d, t1 = env["__D"], env["__T1"]
        return F.degrees(
            env["__phi1"] - (env["__nu1"] * F.tan(env["__phi1"])
                             / env["__rho1"])
            * (d * d / F.lit(2.0) - (F.lit(1.0) + F.lit(3.0) * t1)
               * F.pow(d, F.lit(4.0)) / F.lit(24.0)))

    def out_x(env):
        d, t1 = env["__D"], env["__T1"]
        return F.degrees(
            F.lit(c["lam0"])
            + (d - t1 * F.pow(d, F.lit(3.0)) / F.lit(3.0)
               + (F.lit(1.0) + F.lit(3.0) * t1) * t1
               * F.pow(d, F.lit(5.0)) / F.lit(15.0))
            / F.cos(env["__phi1"]))

    return StagedTransform([
        {"__mu": s_mu},
        {"__phi1": s_phi1},
        {"__T1": s_t1, "__nu1": s_nu1, "__rho1": s_rho1},
        {"__D": s_d},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def cass_inverse_sql(x_expr: str, y_expr: str,
                     crs: str) -> tuple[str, str]:
    """The SAME Cassini-Soldner inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_cass_to_lonlat_fn`.
    Returns (lon_sql, lat_sql)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]
    mu = f"(({c['m0']!r} + (({y_expr}) - {c['fn']!r})) " \
         f"/ {a * c['m_c0']!r})"
    phi1 = f"({mu} + {c['f1_2']!r} * sin(2.0 * {mu}) " \
           f"+ {c['f1_4']!r} * sin(4.0 * {mu}) " \
           f"+ {c['f1_6']!r} * sin(6.0 * {mu}))"
    t1 = f"(tan({phi1}) * tan({phi1}))"
    nu1 = f"({a!r} / sqrt(1.0 - {es!r} * sin({phi1}) * sin({phi1})))"
    rho1 = f"({a * (1.0 - es)!r} / pow(1.0 - {es!r} * sin({phi1}) " \
           f"* sin({phi1}), 1.5))"
    d = f"((({x_expr}) - {c['fe']!r}) / {nu1})"
    lat = f"degrees({phi1} - ({nu1} * tan({phi1}) / {rho1}) " \
          f"* ({d} * {d} / 2.0 - (1.0 + 3.0 * {t1}) " \
          f"* pow({d}, 4.0) / 24.0))"
    lon = f"degrees({c['lam0']!r} + ({d} - {t1} * pow({d}, 3.0) " \
          f"/ 3.0 + (1.0 + 3.0 * {t1}) * {t1} * pow({d}, 5.0) " \
          f"/ 15.0) / cos({phi1}))"
    return lon, lat


# ---- American Polyconic (+proj=poly) ----------------------------------
#
# EPSG method 9818 / Snyder ch. 18 (forward 18-12..15, inverse the
# 18-18 Newton on the meridian-arc identity; both reproduce Snyder's
# Clarke-1866 worked example to the published 0.1 m — tests).
# EPSG:29101 (SAD69 / Brazil Polyconic, GRS67) is registered
# DATUM-LESS: the published SAD69->WGS84 shifts differ per
# realization, so the EPSG code takes lon/lat on its own datum;
# +towgs84 in a PROJ string opts into an explicit hop.  The equator
# row (phi = 0, where the cone degenerates to the tangent cylinder)
# is closed-form-guarded on both engines.

#: crs -> (a, rf, lat0, lon0, fe, fn, towgs84 local->WGS84 or None)
POLY_PARAMS: dict[str, tuple] = {
    # SAD69 / Brazil Polyconic (GRS 1967 modified)
    "EPSG:29101": (6_378_160.0, 298.25, 0.0, -54.0,
                   5_000_000.0, 10_000_000.0, None),
}

#: fixed iteration count of the Snyder 18-18 Newton solve
_POLY_ITERS = 5


def _poly_consts(crs: str) -> dict:
    a, rf, lat0, lon0, fe, fn, towgs84 = POLY_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    c0 = 1.0 - es / 4.0 - 3.0 * es * es / 64.0 - 5.0 * es ** 3 / 256.0
    c2 = 3.0 * es / 8.0 + 3.0 * es * es / 32.0 + 45.0 * es ** 3 / 1024.0
    c4 = 15.0 * es * es / 256.0 + 45.0 * es ** 3 / 1024.0
    c6 = 35.0 * es ** 3 / 3072.0
    phi0 = math.radians(lat0)
    m0 = a * (c0 * phi0 - c2 * math.sin(2.0 * phi0)
              + c4 * math.sin(4.0 * phi0) - c6 * math.sin(6.0 * phi0))
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        c0=c0, c2=c2, c4=c4, c6=c6, m0=m0,
        lam0=math.radians(lon0), fe=fe, fn=fn, towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _poly_m_col(phi, c):
    return F.lit(c["a"]) * (
        F.lit(c["c0"]) * phi
        - F.lit(c["c2"]) * F.sin(F.lit(2.0) * phi)
        + F.lit(c["c4"]) * F.sin(F.lit(4.0) * phi)
        - F.lit(c["c6"]) * F.sin(F.lit(6.0) * phi))


def _lonlat_to_poly_fn(crs: str) -> "StagedTransform":
    """lon/lat (deg) -> polyconic E/N (Snyder 18-12..15, staged; the
    equator row takes the tangent-cylinder closed form)."""
    c = _poly_consts(crs)
    es = c["es"]

    stages: list[dict] = [
        {"__lamw": lambda env: F.radians(env["__in_x"]),
         "__phiw": lambda env: F.radians(env["__in_y"])},
    ]
    if c["helm_fwd"] is not None:
        stages += _datum_hop_fwd_stages(
            c["helm_fwd"], c["a"], es, c["b_ell"], c["ep2"])
    else:
        stages.append({"__lam": lambda env: env["__lamw"],
                       "__phi": lambda env: env["__phiw"]})

    def s_e(env):
        return (env["__lam"] - F.lit(c["lam0"])) * F.sin(env["__phi"])

    def s_ncot(env):
        s = F.sin(env["__phi"])
        return (F.lit(c["a"]) / F.sqrt(F.lit(1.0) - F.lit(es) * s * s)
                / F.tan(env["__phi"]))

    def out_x(env):
        return F.lit(c["fe"]) + F.when(
            F.abs(env["__phi"]) < F.lit(1e-12),
            F.lit(c["a"]) * (env["__lam"] - F.lit(c["lam0"]))
        ).otherwise(env["__ncot"] * F.sin(env["__E"]))

    def out_y(env):
        return F.lit(c["fn"]) + F.when(
            F.abs(env["__phi"]) < F.lit(1e-12),
            F.lit(-c["m0"])
        ).otherwise(
            _poly_m_col(env["__phi"], c) - F.lit(c["m0"])
            + env["__ncot"] * (F.lit(1.0) - F.cos(env["__E"])))

    stages += [
        {"__E": s_e, "__ncot": s_ncot},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return StagedTransform(stages)


def _poly_to_lonlat_fn(crs: str) -> "StagedTransform":
    """Polyconic E/N -> lon/lat (Snyder 18-18 fixed-count Newton on
    the meridian-arc identity)."""
    c = _poly_consts(crs)
    a, es = c["a"], c["es"]

    def s_ab(env):
        return (F.lit(c["m0"]) + (env["__in_y"] - F.lit(c["fn"]))) \
            / F.lit(a)

    def s_xa(env):
        return (env["__in_x"] - F.lit(c["fe"])) / F.lit(a)

    def s_b(env):
        return env["__A"] * env["__A"] + env["__xa"] * env["__xa"]

    def s_phi0(env):
        return env["__A"]

    def s_s2(env):
        return F.sin(F.lit(2.0) * env["__phi"])

    def s_c(env):
        s = F.sin(env["__phi"])
        return (F.sqrt(F.lit(1.0) - F.lit(es) * s * s)
                * F.tan(env["__phi"]))

    def s_ma(env):
        return _poly_m_col(env["__phi"], c) / F.lit(a)

    def s_mp(env):
        phi = env["__phi"]
        return (F.lit(c["c0"])
                - F.lit(2.0 * c["c2"]) * F.cos(F.lit(2.0) * phi)
                + F.lit(4.0 * c["c4"]) * F.cos(F.lit(4.0) * phi)
                - F.lit(6.0 * c["c6"]) * F.cos(F.lit(6.0) * phi))

    def s_step(env):
        aa, bb = env["__A"], env["__B"]
        cc, ma, mp = env["__C"], env["__Ma"], env["__Mp"]
        num = (aa * (cc * ma + F.lit(1.0)) - ma
               - F.lit(0.5) * cc * (ma * ma + bb))
        den = (F.lit(es) * env["__s2"] * (ma * ma + bb
                                          - F.lit(2.0) * aa * ma)
               / (F.lit(4.0) * cc)
               + (aa - ma) * (cc * mp - F.lit(2.0) / env["__s2"])
               - mp)
        return env["__phi"] - num / den

    def out_y(env):
        return F.when(F.abs(env["__A"]) < F.lit(1e-12), F.lit(0.0)) \
            .otherwise(F.degrees(env["__phi"]))

    def out_x(env):
        s = F.sin(env["__phi"])
        lam = F.when(
            F.abs(env["__A"]) < F.lit(1e-12),
            F.lit(c["lam0"]) + env["__xa"]
        ).otherwise(
            F.lit(c["lam0"]) + F.asin(
                env["__xa"] * F.sqrt(F.lit(1.0) - F.lit(es) * s * s)
                * F.tan(env["__phi"])) / s)
        return F.degrees(lam)

    stages: list[dict] = [
        {"__A": s_ab, "__xa": s_xa},
        {"__B": s_b},
        {"__phi": s_phi0},
    ]
    for _ in range(_POLY_ITERS):
        stages.append({"__s2": s_s2, "__C": s_c, "__Ma": s_ma,
                       "__Mp": s_mp})
        stages.append({"__phi": s_step})
    stages.append({"__out_x": out_x, "__out_y": out_y})
    return StagedTransform(stages)


def poly_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                          src: str = "tgt") -> str:
    """The SAME polyconic inverse as a chain of CTEs over ``src``
    (for DuckDB oracles) — identical arithmetic and iteration count
    to :func:`_poly_to_lonlat_fn`.  Emits CTEs ``py1..`` and finally
    ``poly_ll`` = ``src`` columns + ``lon``/``lat``."""
    c = _poly_consts(crs)
    a, es = c["a"], c["es"]
    m_sql = (f"({a!r} * ({c['c0']!r} * __phi "
             f"- {c['c2']!r} * sin(2.0 * __phi) "
             f"+ {c['c4']!r} * sin(4.0 * __phi) "
             f"- {c['c6']!r} * sin(6.0 * __phi)))")
    mp_sql = (f"({c['c0']!r} - {2.0 * c['c2']!r} * cos(2.0 * __phi) "
              f"+ {4.0 * c['c4']!r} * cos(4.0 * __phi) "
              f"- {6.0 * c['c6']!r} * cos(6.0 * __phi))")
    iters = "".join(f"""), py{3 + 2 * k} AS (
            SELECT *, sin(2.0 * __phi) AS __s2,
                   (sqrt(1.0 - {es!r} * sin(__phi) * sin(__phi))
                    * tan(__phi)) AS __C,
                   ({m_sql} / {a!r}) AS __Ma,
                   {mp_sql} AS __Mp
            FROM py{2 + 2 * k}
        ), py{4 + 2 * k} AS (
            SELECT * EXCLUDE (__phi, __s2, __C, __Ma, __Mp),
                   (__phi - ((__A * (__C * __Ma + 1.0) - __Ma
                              - 0.5 * __C * (__Ma * __Ma + __B))
                             / ({es!r} * __s2 * (__Ma * __Ma + __B
                                                 - 2.0 * __A * __Ma)
                                / (4.0 * __C)
                                + (__A - __Ma) * (__C * __Mp
                                                  - 2.0 / __s2)
                                - __Mp))) AS __phi
            FROM py{3 + 2 * k}""" for k in range(_POLY_ITERS))
    n_last = 2 + 2 * _POLY_ITERS
    return f"""py1 AS (
            SELECT *, (({c['m0']!r} + (({y_expr}) - {c['fn']!r}))
                       / {a!r}) AS __A,
                   ((({x_expr}) - {c['fe']!r}) / {a!r}) AS __xa
            FROM {src}
        ), py2 AS (
            SELECT *, (__A * __A + __xa * __xa) AS __B,
                   __A AS __phi
            FROM py1
        {iters}), poly_ll AS (
            SELECT * EXCLUDE (__A, __xa, __B, __phi),
                   CASE WHEN abs(__A) < 1e-12
                        THEN degrees({c['lam0']!r} + __xa)
                        ELSE degrees({c['lam0']!r}
                            + asin(__xa * sqrt(1.0 - {es!r}
                                   * sin(__phi) * sin(__phi))
                                   * tan(__phi)) / sin(__phi))
                   END AS lon,
                   CASE WHEN abs(__A) < 1e-12 THEN 0.0
                        ELSE degrees(__phi)
                   END AS lat
            FROM py{n_last}
        )"""


# ---- Lambert cylindrical equal-area (EASE-Grid 2.0 and kin) -----------
#
# EPSG method 9835 (ellipsoidal CEA, Snyder eqs. 10-1/10-2 with the
# 3-12 authalic q and the 3-18 beta->phi series).  The NSIDC EASE-Grid
# 2.0 global grid (EPSG:6933, WGS84, standard parallel 30) is the
# canonical user (SMAP, AMSR soil-moisture/snow products); the
# reference reaches it through pyproj (core/gridmapping/transform.py).

#: crs -> (a, rf, lat_ts, lon0, false easting, false northing)
CEA_PARAMS: dict[str, tuple] = {
    # EASE-Grid 2.0 Global (NSIDC)
    "EPSG:6933": (6_378_137.0, 298.257223563, 30.0, 0.0, 0.0, 0.0),
    # World Cylindrical Equal Area
    "ESRI:54034": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0, 0.0),
}


def _cea_consts(crs: str) -> dict:
    a, rf, lat_ts, lon0, fe, fn = CEA_PARAMS[crs.upper()]
    f = 0.0 if math.isinf(rf) else 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    s1 = math.sin(math.radians(lat_ts))
    k0 = math.cos(math.radians(lat_ts)) / math.sqrt(1.0 - es * s1 * s1)

    def q_of(s: float) -> float:
        if es == 0.0:
            return 2.0 * s
        return (1.0 - es) * (
            s / (1.0 - es * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))

    series = (
        es / 3.0 + 31.0 * es ** 2 / 180.0 + 517.0 * es ** 3 / 5040.0,
        23.0 * es ** 2 / 360.0 + 251.0 * es ** 3 / 3780.0,
        761.0 * es ** 3 / 45360.0,
    )
    return dict(a=a, e=e, es=es, k0=k0, lon0=lon0, fe=fe, fn=fn,
                qp=q_of(1.0), series=series)


def _lonlat_to_cea_fn(crs: str) -> ColumnTransform:
    c = _cea_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        x = (F.lit(c["fe"])
             + F.lit(c["a"] * c["k0"]) * F.radians(lon - F.lit(c["lon0"])))
        s = F.sin(F.radians(lat))
        if c["es"] == 0.0:
            q = F.lit(2.0) * s
        else:
            es, e = c["es"], c["e"]
            q = F.lit(1.0 - es) * (
                s / (F.lit(1.0) - F.lit(es) * s * s)
                - F.lit(1.0 / (2.0 * e))
                * F.log((F.lit(1.0) - F.lit(e) * s)
                        / (F.lit(1.0) + F.lit(e) * s)))
        y = F.lit(c["fn"]) + F.lit(c["a"]) * q / F.lit(2.0 * c["k0"])
        return x, y

    return fwd


def _cea_to_lonlat_fn(crs: str) -> ColumnTransform:
    c = _cea_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        lon = (F.lit(c["lon0"])
               + F.degrees((x - F.lit(c["fe"])) / F.lit(c["a"] * c["k0"])))
        beta = F.asin((y - F.lit(c["fn"]))
                      * F.lit(2.0 * c["k0"] / c["a"]) / F.lit(c["qp"]))
        phi = beta
        for j, cf in enumerate(c["series"], start=1):
            phi = phi + F.lit(cf) * F.sin(F.lit(2.0 * j) * beta)
        return lon, F.degrees(phi)

    return inv


def cea_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME cylindrical-equal-area inverse as SQL strings (for
    DuckDB oracles) — identical op order to :func:`_cea_to_lonlat_fn`.
    Returns (lon_sql, lat_sql)."""
    c = _cea_consts(crs)
    lon = (f"({c['lon0']!r} + degrees((({x_expr}) - {c['fe']!r})"
           f" / {c['a'] * c['k0']!r}))")
    beta = (f"asin((({y_expr}) - {c['fn']!r})"
            f" * {2.0 * c['k0'] / c['a']!r} / {c['qp']!r})")
    phi = beta
    for j, cf in enumerate(c["series"], start=1):
        phi = f"({phi} + {cf!r} * sin(2.0 * {j} * {beta}))"
    return lon, f"degrees({phi})"


# ---- Lambert azimuthal equal-area (EPSG:3035 and kin) -----------------
#
# The reference's most common European target grid (ETRS89-LAEA) goes
# through pyproj (core/gridmapping/transform.py).  Ellipsoidal LAEA from
# Snyder 1987 (public math: eqs. 3-12 authalic latitude, 24-2..24-31 for
# the oblique aspect, 3-18 for the beta -> phi series).  Same design as
# UTM/polar above: pure Column forward/inverse + identical-arithmetic
# SQL twin for oracles.

#: GRS80 ellipsoid (ETRS89 datum): negligibly different from WGS84, but
#: stated precisely so both engines run the same constants
_F_GRS80 = 1.0 / 298.257222101
_E2_G = _F_GRS80 * (2.0 - _F_GRS80)
_E_G = math.sqrt(_E2_G)
#: crs -> (lat0 deg, lon0 deg, false easting, false northing)
LAEA_PARAMS: dict[str, tuple[float, float, float, float]] = {
    "EPSG:3035": (52.0, 10.0, 4_321_000.0, 3_210_000.0),  # ETRS89-LAEA
}


def _q_auth(sin_phi: float, e2: float = None, e: float = None) -> float:
    """Authalic q (Snyder eq. 3-12) at a scalar sin(phi); defaults to
    the GRS80 eccentricity."""
    ee2 = _E2_G if e2 is None else e2
    ee = _E_G if e is None else e
    return (1.0 - ee2) * (
        sin_phi / (1.0 - ee2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * ee))
        * math.log((1.0 - ee * sin_phi) / (1.0 + ee * sin_phi))
    )


def _laea_consts(crs: str) -> dict:
    """(q_p, beta1, R_q, D, ellipsoid, series) for the CRS center
    latitude, any ellipsoid."""
    params = LAEA_PARAMS[crs.upper()]
    lat0 = params[0]
    a, e2, e = _conic_ellipsoid(params, 4)
    q_p = _q_auth(1.0, e2, e)
    q1 = _q_auth(math.sin(math.radians(lat0)), e2, e)
    beta1 = math.asin(q1 / q_p)
    r_q = a * math.sqrt(q_p / 2.0)
    s0 = math.sin(math.radians(lat0))
    m1 = math.cos(math.radians(lat0)) / math.sqrt(1.0 - e2 * s0 * s0)
    d = a * m1 / (r_q * math.cos(beta1))
    return dict(q_p=q_p, beta1=beta1, r_q=r_q, d=d, e2=e2, e=e,
                series=_beta_series(e2))


def _lonlat_to_laea_fn(crs: str) -> ColumnTransform:
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    e2, e = k["e2"], k["e"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon - F.lit(lon0))
        s = F.sin(F.radians(lat))
        q = F.lit(1.0 - e2) * (
            s / (F.lit(1.0) - F.lit(e2) * s * s)
            - F.lit(1.0 / (2.0 * e))
            * F.log((F.lit(1.0) - F.lit(e) * s)
                    / (F.lit(1.0) + F.lit(e) * s))
        )
        beta = F.asin(F.least(F.greatest(q / F.lit(q_p), F.lit(-1.0)),
                              F.lit(1.0)))
        cb, sb = F.cos(beta), F.sin(beta)
        b = F.lit(r_q) * F.sqrt(
            F.lit(2.0) / (F.lit(1.0) + F.lit(sb1) * sb
                          + F.lit(cb1) * cb * F.cos(lam))
        )
        x = F.lit(fe) + b * F.lit(d) * cb * F.sin(lam)
        y = F.lit(fn) + (b / F.lit(d)) * (
            F.lit(cb1) * sb - F.lit(sb1) * cb * F.cos(lam)
        )
        return x, y

    return fwd


def _laea_to_lonlat_fn(crs: str) -> ColumnTransform:
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xd = (x - F.lit(fe)) / F.lit(d)
        yd = F.lit(d) * (y - F.lit(fn))
        rho = F.sqrt(xd * xd + yd * yd)
        ce = F.lit(2.0) * F.asin(
            F.least(rho / F.lit(2.0 * r_q), F.lit(1.0)))
        # rho == 0 -> projection center (guarded: sin(ce)/rho is 0/0)
        qv = F.lit(q_p) * (
            F.cos(ce) * F.lit(sb1)
            + F.when(rho == 0.0, F.lit(0.0))
            .otherwise(yd * F.sin(ce) * F.lit(cb1) / rho)
        )
        beta = F.asin(F.least(F.greatest(qv / F.lit(q_p), F.lit(-1.0)),
                              F.lit(1.0)))
        phi = beta
        for j, c in enumerate(k["series"], start=1):
            phi = phi + F.lit(c) * F.sin(F.lit(2.0 * j) * beta)
        lam = F.atan2(
            (x - F.lit(fe)) * F.sin(ce),
            F.lit(d) * rho * F.cos(ce) * F.lit(cb1)
            - F.lit(d) * yd * F.sin(ce) * F.lit(sb1),
        )
        lon = F.lit(lon0) + F.degrees(
            F.when(rho == 0.0, F.lit(0.0)).otherwise(lam))
        lat = F.degrees(
            F.when(rho == 0.0, F.lit(math.radians(lat0))).otherwise(phi))
        return lon, lat

    return inv


def laea_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME LAEA inverse as SQL strings (for DuckDB oracles).
    Returns (lon_sql, lat_sql).  No rho == 0 guard: oracle grids never
    place a cell center exactly on the projection center."""
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)
    # DOUBLE casts: DuckDB types numeric literals as DECIMAL, and the
    # rho**2 products overflow DECIMAL(38) without them
    x_expr = f"CAST({x_expr} AS DOUBLE)"
    y_expr = f"CAST({y_expr} AS DOUBLE)"
    xd = f"((({x_expr}) - {fe!r}) / {d!r})"
    yd = f"({d!r} * (({y_expr}) - {fn!r}))"
    rho = f"sqrt({xd} * {xd} + {yd} * {yd})"
    ce = f"(2.0 * asin(least({rho} / {2.0 * r_q!r}, 1.0)))"
    qv = f"({q_p!r} * (cos({ce}) * {sb1!r} " \
         f"+ {yd} * sin({ce}) * {cb1!r} / {rho}))"
    beta = f"asin(least(greatest({qv} / {q_p!r}, -1.0), 1.0))"
    phi = beta
    for j, c in enumerate(k["series"], start=1):
        phi = f"({phi} + {c!r} * sin(2.0 * {j} * ({beta})))"
    lam = f"atan2((({x_expr}) - {fe!r}) * sin({ce}), " \
          f"{d!r} * {rho} * cos({ce}) * {cb1!r} " \
          f"- {d!r} * {yd} * sin({ce}) * {sb1!r})"
    return f"({lon0!r} + degrees({lam}))", f"degrees({phi})"


# ---- Lambert conformal conic 2SP (EPSG:2154 / 3034 and kin) -----------
#
# National grids (France RGF93-LCC, ETRS89-LCC Europe) the reference
# reaches through pyproj.  Ellipsoidal LCC-2SP from Snyder 1987
# (public math: eqs. 14-15 m, 15-9 t, 15-1..15-11 forward/inverse, 3-5
# chi -> phi series).  Pure Column + identical-arithmetic SQL twin.

#: crs -> (lat1, lat2, lat0, lon0, false easting, false northing)
#: [6-tuple: GRS80] or + (a, rf) [8-tuple: any ellipsoid, round 8]
LCC_PARAMS: dict[str, tuple[float, float, float, float, float, float]] = {
    "EPSG:2154": (44.0, 49.0, 46.5, 3.0, 700_000.0, 6_600_000.0),
    "EPSG:3034": (35.0, 65.0, 52.0, 10.0, 4_000_000.0, 2_800_000.0),
}


def _conic_ellipsoid(params: tuple, base_len: int) -> tuple:
    """(a, e2, e) from an optionally ellipsoid-extended family tuple
    (round 8: LCC/AEA/LAEA accept any ellipsoid via two extra slots).
    The short form reproduces the module GRS80 constants bit-exact, so
    every pre-existing registration keeps its doubles unchanged."""
    if len(params) > base_len:
        a, rf = params[base_len], params[base_len + 1]
        f = 1.0 / rf
        e2 = f * (2.0 - f)
        return a, e2, math.sqrt(e2)
    return _R, _E2_G, _E_G


def _chi_series(e2: float) -> tuple:
    """Conformal chi -> geodetic phi series (Snyder eq. 3-5)."""
    return (
        e2 / 2.0 + 5.0 * e2 ** 2 / 24.0 + e2 ** 3 / 12.0
        + 13.0 * e2 ** 4 / 360.0,
        7.0 * e2 ** 2 / 48.0 + 29.0 * e2 ** 3 / 240.0
        + 811.0 * e2 ** 4 / 11520.0,
        7.0 * e2 ** 3 / 120.0 + 81.0 * e2 ** 4 / 1120.0,
        4279.0 * e2 ** 4 / 161280.0,
    )


def _beta_series(e2: float) -> tuple:
    """Authalic beta -> geodetic phi series (Snyder eq. 3-18)."""
    return (
        e2 / 3.0 + 31.0 * e2 ** 2 / 180.0 + 517.0 * e2 ** 3 / 5040.0,
        23.0 * e2 ** 2 / 360.0 + 251.0 * e2 ** 3 / 3780.0,
        761.0 * e2 ** 3 / 45360.0,
    )


def _lcc_m(phi: float, e2: float = None) -> float:
    s = math.sin(phi)
    ee = _E2_G if e2 is None else e2
    return math.cos(phi) / math.sqrt(1.0 - ee * s * s)


def _lcc_t(phi: float, e: float = None) -> float:
    s = math.sin(phi)
    ec = _E_G if e is None else e
    return math.tan(math.pi / 4.0 - phi / 2.0) * (
        (1.0 + ec * s) / (1.0 - ec * s)) ** (ec / 2.0)


def _lcc_consts(crs: str) -> tuple:
    """(n, a*Fc, rho0, lon0, fe, fn, e, chi_series) for the CRS
    (Snyder 15-3/15-2/15-1a, any ellipsoid)."""
    params = LCC_PARAMS[crs.upper()]
    lat1, lat2, lat0, lon0, fe, fn = params[:6]
    a, e2, e = _conic_ellipsoid(params, 6)
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    if lat1 == lat2:
        # coincident parallels: the secant cone degenerates to the
        # tangent cone, n -> sin(phi1) (the 1-SP form, EPSG 9801 —
        # the 0/0 limit of the 2-SP quotient below)
        n = math.sin(p1)
    else:
        n = (math.log(_lcc_m(p1, e2)) - math.log(_lcc_m(p2, e2))) / (
            math.log(_lcc_t(p1, e)) - math.log(_lcc_t(p2, e)))
    af = a * _lcc_m(p1, e2) / (n * _lcc_t(p1, e) ** n)
    rho0 = af * _lcc_t(p0, e) ** n
    return n, af, rho0, lon0, fe, fn, e, _chi_series(e2)


def _lonlat_to_lcc_fn(crs: str) -> ColumnTransform:
    n, af, rho0, lon0, fe, fn, e, _ = _lcc_consts(crs)

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        phi = F.radians(lat)
        s = F.lit(e) * F.sin(phi)
        t = F.tan(F.lit(math.pi / 4.0) - phi / 2) * F.pow(
            (F.lit(1.0) + s) / (F.lit(1.0) - s), F.lit(e / 2.0))
        rho = F.lit(af) * F.pow(t, F.lit(n))
        th = F.lit(n) * F.radians(lon - F.lit(lon0))
        return (F.lit(fe) + rho * F.sin(th),
                F.lit(fn) + F.lit(rho0) - rho * F.cos(th))

    return fwd


def _lcc_to_lonlat_fn(crs: str) -> ColumnTransform:
    n, af, rho0, lon0, fe, fn, e, series = _lcc_consts(crs)

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xd = x - F.lit(fe)
        yd = F.lit(rho0) - (y - F.lit(fn))
        # northern-cone registrations have n > 0: rho' carries n's
        # sign directly
        rho = F.sqrt(xd * xd + yd * yd)
        t = F.pow(rho / F.lit(af), F.lit(1.0 / n))
        chi = F.lit(math.pi / 2.0) - 2 * F.atan(t)
        phi = chi
        for j, c in enumerate(series, start=1):
            phi = phi + F.lit(c) * F.sin(F.lit(2.0 * j) * chi)
        lam = F.atan2(xd, yd) / F.lit(n)
        return F.lit(lon0) + F.degrees(lam), F.degrees(phi)

    return inv


def lcc_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME LCC inverse as SQL strings (for DuckDB oracles)."""
    n, af, rho0, lon0, fe, fn, e, series = _lcc_consts(crs)
    xd = f"(CAST({x_expr} AS DOUBLE) - {fe!r})"
    yd = f"({rho0!r} - (CAST({y_expr} AS DOUBLE) - {fn!r}))"
    rho = f"sqrt({xd} * {xd} + {yd} * {yd})"
    t = f"pow({rho} / {af!r}, {1.0 / n!r})"
    chi = f"({math.pi / 2.0!r} - 2 * atan({t}))"
    phi = chi
    for j, c in enumerate(series, start=1):
        phi = f"({phi} + {c!r} * sin(2.0 * {j} * ({chi})))"
    lam = f"(atan2({xd}, {yd}) / {n!r})"
    return f"({lon0!r} + degrees({lam}))", f"degrees({phi})"


# ---- Albers equal-area conic (EPSG:5070 CONUS) ------------------------
#
# The US analysis grid (NAD83 / Conus Albers) — ellipsoidal Albers from
# Snyder 1987 (eqs. 14-3..14-11 with the authalic beta -> phi 3-18
# series, shared with LAEA above).  GRS80 ellipsoid.

#: crs -> (lat1, lat2, lat0, lon0, false easting, false northing)
AEA_PARAMS: dict[str, tuple[float, float, float, float, float, float]] = {
    "EPSG:5070": (29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
}


def _aea_consts(crs: str) -> dict:
    """Snyder 14-14/14-13/14-12a constants, any ellipsoid."""
    params = AEA_PARAMS[crs.upper()]
    lat1, lat2, lat0, lon0, fe, fn = params[:6]
    a, e2, e = _conic_ellipsoid(params, 6)
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1, m2 = _lcc_m(p1, e2), _lcc_m(p2, e2)
    q1 = _q_auth(math.sin(p1), e2, e)
    q2 = _q_auth(math.sin(p2), e2, e)
    q0 = _q_auth(math.sin(p0), e2, e)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    return dict(n=n, c=c, rho0=a * math.sqrt(c - n * q0) / n,
                lon0=lon0, fe=fe, fn=fn, a=a, e2=e2, e=e,
                q_p=_q_auth(1.0, e2, e), series=_beta_series(e2))


def _lonlat_to_aea_fn(crs: str) -> ColumnTransform:
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])
    e2, e = k["e2"], k["e"]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        s = F.sin(F.radians(lat))
        q = F.lit(1.0 - e2) * (
            s / (F.lit(1.0) - F.lit(e2) * s * s)
            - F.lit(1.0 / (2.0 * e))
            * F.log((F.lit(1.0) - F.lit(e) * s)
                    / (F.lit(1.0) + F.lit(e) * s)))
        rho = F.lit(k["a"]) * F.sqrt(F.lit(c) - F.lit(n) * q) / F.lit(n)
        th = F.lit(n) * F.radians(lon - F.lit(lon0))
        return (F.lit(fe) + rho * F.sin(th),
                F.lit(fn) + F.lit(rho0) - rho * F.cos(th))

    return fwd


def _aea_to_lonlat_fn(crs: str) -> ColumnTransform:
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xd = x - F.lit(fe)
        yd = F.lit(rho0) - (y - F.lit(fn))
        rho = F.sqrt(xd * xd + yd * yd)
        q = (F.lit(c) - rho * rho
             * F.lit(n * n / (k["a"] * k["a"]))) / F.lit(n)
        beta = F.asin(F.least(F.greatest(q / F.lit(k["q_p"]),
                                         F.lit(-1.0)),
                              F.lit(1.0)))
        phi = beta
        for j, cc in enumerate(k["series"], start=1):
            phi = phi + F.lit(cc) * F.sin(F.lit(2.0 * j) * beta)
        lam = F.atan2(xd, yd) / F.lit(n)
        return F.lit(lon0) + F.degrees(lam), F.degrees(phi)

    return inv


def aea_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME Albers inverse as SQL strings (for DuckDB oracles)."""
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])
    xd = f"(CAST({x_expr} AS DOUBLE) - {fe!r})"
    yd = f"({rho0!r} - (CAST({y_expr} AS DOUBLE) - {fn!r}))"
    rho2 = f"({xd} * {xd} + {yd} * {yd})"
    q = f"(({c!r} - {rho2} * {n * n / (k['a'] * k['a'])!r}) / {n!r})"
    beta = f"asin(least(greatest({q} / {k['q_p']!r}, -1.0), 1.0))"
    phi = beta
    for j, cc in enumerate(k["series"], start=1):
        phi = f"({phi} + {cc!r} * sin(2.0 * {j} * ({beta})))"
    lam = f"(atan2({xd}, {yd}) / {n!r})"
    return f"({lon0!r} + degrees({lam}))", f"degrees({phi})"


# ---- Mollweide (World_Mollweide, ESRI:54009) --------------------------
#
# The equal-area pseudocylindrical world CRS (land-cover and climate
# products; the reference reaches it through pyproj).  Spherical
# Mollweide on the WGS84 semimajor (proj's +proj=moll +ellps=WGS84
# formulation, Snyder 1987 eq. 31-1..31-8): solve
# ``2t + sin 2t = pi sin(phi)`` for the auxiliary angle t, then
# ``x = (2 sqrt(2) / pi) R lam cos t``, ``y = sqrt(2) R sin t``.

MOLL_PARAMS: dict[str, float] = {
    "ESRI:54009": _R,
}
_SQRT2 = math.sqrt(2.0)


class _MollForward:
    """lon/lat -> Mollweide; the Newton solve for t is staged as
    materialized columns (apply_df) so the iteration does not nest an
    exponentially-growing expression tree."""

    def __init__(self, crs: str, iterations: int = 8):
        self.r = MOLL_PARAMS[crs.upper()]
        self.iterations = iterations

    def _step(self, t: Column, sinphi: Column) -> Column:
        # Newton: t -= (2t + sin 2t - pi sin phi) / (2 + 2 cos 2t);
        # at the poles the derivative vanishes and t is already phi
        num = F.lit(2.0) * t + F.sin(F.lit(2.0) * t) \
            - F.lit(math.pi) * sinphi
        den = F.lit(2.0) + F.lit(2.0) * F.cos(F.lit(2.0) * t)
        return F.when(F.abs(den) < 1e-12, t).otherwise(t - num / den)

    def _xy(self, lon: Column, t: Column) -> tuple[Column, Column]:
        x = F.lit(2.0 * _SQRT2 / math.pi * self.r) \
            * F.radians(lon) * F.cos(t)
        y = F.lit(_SQRT2 * self.r) * F.sin(t)
        return x, y

    def __call__(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        # nested form (tests / tiny tables); apply_df is the real path
        t = F.radians(lat)
        sinphi = F.sin(F.radians(lat))
        for _ in range(self.iterations):
            t = self._step(t, sinphi)
        return self._xy(lon, t)

    def apply_df(self, df, x_expr: Column, y_expr: Column,
                 out_x: str, out_y: str):
        df = df.withColumns({
            "__mo_lam": x_expr,
            "__mo_sph": F.sin(F.radians(y_expr)),
            "__mo_t": F.radians(y_expr),
        })
        for _ in range(self.iterations):
            df = df.withColumn(
                "__mo_t", self._step(F.col("__mo_t"), F.col("__mo_sph")))
        x, y = self._xy(F.col("__mo_lam"), F.col("__mo_t"))
        return df.withColumns({out_x: x, out_y: y}) \
            .drop("__mo_lam", "__mo_sph", "__mo_t")


def _moll_to_lonlat_fn(crs: str) -> ColumnTransform:
    r = MOLL_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        t = F.asin(y / F.lit(_SQRT2 * r))
        phi = F.asin(
            (F.lit(2.0) * t + F.sin(F.lit(2.0) * t)) / F.lit(math.pi))
        lon = F.degrees(
            x * F.lit(math.pi) / (F.lit(2.0 * _SQRT2 * r) * F.cos(t)))
        return lon, F.degrees(phi)

    return inv


def moll_inverse_sql(x_expr: str, y_expr: str, crs: str) \
        -> tuple[str, str]:
    """The SAME Mollweide inverse as SQL strings (for DuckDB oracles)."""
    r = MOLL_PARAMS[crs.upper()]
    t = f"asin(CAST({y_expr} AS DOUBLE) / {_SQRT2 * r!r})"
    phi = f"degrees(asin((2.0 * {t} + sin(2.0 * {t})) / pi()))"
    lon = (f"degrees(CAST({x_expr} AS DOUBLE) * pi() / "
           f"({2.0 * _SQRT2 * r!r} * cos({t})))")
    return lon, phi


# ---- Hammer (-Aitoff) (+proj=hammer) -----------------------------------
#
# The equal-area modified-azimuthal world projection (Hammer 1892;
# Snyder ch. on modified azimuthals): the Lambert azimuthal equatorial
# aspect at halved longitudes, stretched 2x in x — equal-area where
# Aitoff is not, with the same elliptical outline.  Closed form BOTH
# directions (the published inverse via z = sqrt(1 - (x/4)^2 -
# (y/2)^2) on the unit sphere).  No authority code in common
# registries — canonical key PROJ:HAMMER (the natearth convention).

#: crs -> sphere radius
HAMMER_PARAMS: dict[str, float] = {
    "PROJ:HAMMER": 6_378_137.0,
}


def _lonlat_to_hammer_fn(crs: str) -> ColumnTransform:
    r = HAMMER_PARAMS[crs.upper()]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam2 = F.radians(lon) / F.lit(2.0)
        phi = F.radians(lat)
        cphi = F.cos(phi)
        den = F.sqrt(F.lit(1.0) + cphi * F.cos(lam2))
        x = F.lit(2.0 * _SQRT2 * r) * cphi * F.sin(lam2) / den
        y = F.lit(_SQRT2 * r) * F.sin(phi) / den
        return x, y

    return fwd


def _hammer_to_lonlat_fn(crs: str) -> ColumnTransform:
    r = HAMMER_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xn = x / F.lit(r)
        yn = y / F.lit(r)
        z = F.sqrt(F.lit(1.0) - (xn / 4.0) * (xn / 4.0)
                   - (yn / 2.0) * (yn / 2.0))
        lon = F.degrees(F.lit(2.0) * F.atan2(
            z * xn, F.lit(2.0) * (F.lit(2.0) * z * z - F.lit(1.0))))
        lat = F.degrees(F.asin(z * yn))
        return lon, lat

    return inv


def hammer_inverse_sql(x_expr: str, y_expr: str,
                       crs: str) -> tuple[str, str]:
    """The SAME Hammer inverse as SQL strings (for DuckDB oracles) —
    identical op order to :func:`_hammer_to_lonlat_fn`."""
    r = HAMMER_PARAMS[crs.upper()]
    xn = f"(CAST({x_expr} AS DOUBLE) / {r!r})"
    yn = f"(CAST({y_expr} AS DOUBLE) / {r!r})"
    z = (f"sqrt(1.0 - ({xn} / 4.0) * ({xn} / 4.0)"
         f" - ({yn} / 2.0) * ({yn} / 2.0))")
    lon = (f"degrees(2.0 * atan2({z} * {xn},"
           f" 2.0 * (2.0 * {z} * {z} - 1.0)))")
    lat = f"degrees(asin({z} * {yn}))"
    return lon, lat


# ---- Goode homolosine (interrupted; +proj=igh) --------------------------
#
# THE interrupted world projection (Goode 1925; USGS GCTP `goode.c`,
# PROJ `+proj=igh`): equal-area, sinusoidal between the 40d44'11.8"
# parallels and six shifted Mollweide lobes above/below, interrupted
# along four meridians (north split at 40W; south splits at 100W,
# 20W, 80E) so every lobe keeps its own central meridian.  The
# round-8 verdict's designated "interrupted projections" gap — the
# reference reaches it only through pyproj
# (xcube/core/gridmapping/transform.py).  Spherical, like every
# Goode implementation; the Mollweide y is shifted toward the equator
# by the EXACT continuity offset sqrt(2) sin(theta_b) - phi_b
# (= 0.052803527..., the USGS GCTP constant solved at import below)
# so the two halves meet exactly at the boundary parallel.  The
# canonical WGS84-semimajor member is PROJ:IGH (ESRI:54052 stays on
# the pyproj fallback: its datum handling is implementation-defined).

#: crs -> sphere radius
IGH_PARAMS: dict[str, float] = {
    "PROJ:IGH": 6_378_137.0,
}

#: the Goode boundary parallel 40d 44' 11.8"
_IGH_PHIB = math.radians(40.0 + 44.0 / 60.0 + 11.8 / 3600.0)


def _solve_igh_dy() -> float:
    """Solve the Mollweide auxiliary angle at the boundary parallel
    and return the continuity offset sqrt(2) sin(theta_b) - phi_b
    (GCTP's 0.0528035274542, derived rather than quoted)."""
    k = math.pi * math.sin(_IGH_PHIB)
    t = _IGH_PHIB
    for _ in range(50):
        t -= (2.0 * t + math.sin(2.0 * t) - k) \
            / (2.0 + 2.0 * math.cos(2.0 * t))
    return _SQRT2 * math.sin(t) - _IGH_PHIB


_IGH_DY = _solve_igh_dy()

#: interruption meridians / lobe central meridians (radians)
_IGH_D20, _IGH_D40, _IGH_D60 = (math.radians(d) for d in (20, 40, 60))
_IGH_D80, _IGH_D100 = math.radians(80.0), math.radians(100.0)
_IGH_D30, _IGH_D140, _IGH_D160 = (math.radians(d) for d in (30, 140, 160))


def _igh_lamc(lam: Column, phi_or_y: Column) -> Column:
    """Per-lobe central meridian (radians) from the signed latitude
    proxy (phi forward / yn inverse) and the longitude proxy (lam
    forward / xn inverse) — the GCTP/PROJ zone table: north splits at
    40W into lobes centered 100W / 30E; south splits at 100W / 20W /
    80E into lobes centered 160W / 60W / 20E / 140E.  Both directions
    use the SAME selector (the inverse classifies by projected x
    against the interruption meridians, exact for in-lobe points and
    deterministic for gap points — mirrored verbatim in the SQL
    twin)."""
    north = F.when(lam <= F.lit(-_IGH_D40), F.lit(-_IGH_D100)) \
        .otherwise(F.lit(_IGH_D30))
    south = F.when(lam <= F.lit(-_IGH_D100), F.lit(-_IGH_D160)) \
        .when(lam <= F.lit(-_IGH_D20), F.lit(-_IGH_D60)) \
        .when(lam <= F.lit(_IGH_D80), F.lit(_IGH_D20)) \
        .otherwise(F.lit(_IGH_D140))
    return F.when(phi_or_y >= F.lit(0.0), north).otherwise(south)


class _IghForward:
    """lon/lat -> interrupted Goode homolosine; the Mollweide Newton
    solve for the auxiliary angle is staged as materialized columns
    (apply_df), Mollweide-style."""

    def __init__(self, crs: str, iterations: int = 8):
        self.r = IGH_PARAMS[crs.upper()]
        self.iterations = iterations

    @staticmethod
    def _step(t: Column, sinphi: Column) -> Column:
        num = F.lit(2.0) * t + F.sin(F.lit(2.0) * t) \
            - F.lit(math.pi) * sinphi
        den = F.lit(2.0) + F.lit(2.0) * F.cos(F.lit(2.0) * t)
        return F.when(F.abs(den) < 1e-12, t).otherwise(t - num / den)

    def _xy(self, lam: Column, phi: Column, lamc: Column,
            t: Column) -> tuple[Column, Column]:
        moll = (phi >= F.lit(_IGH_PHIB)) | (phi < F.lit(-_IGH_PHIB))
        x_sinu = lamc + (lam - lamc) * F.cos(phi)
        y_sinu = phi
        x_moll = lamc + F.lit(2.0 * _SQRT2 / math.pi) \
            * (lam - lamc) * F.cos(t)
        y_moll = F.lit(_SQRT2) * F.sin(t) \
            - F.when(phi >= F.lit(0.0), F.lit(_IGH_DY)) \
            .otherwise(F.lit(-_IGH_DY))
        x = F.lit(self.r) * F.when(moll, x_moll).otherwise(x_sinu)
        y = F.lit(self.r) * F.when(moll, y_moll).otherwise(y_sinu)
        return x, y

    def __call__(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        lam, phi = F.radians(lon), F.radians(lat)
        t, sinphi = phi, F.sin(phi)
        for _ in range(self.iterations):
            t = self._step(t, sinphi)
        return self._xy(lam, phi, _igh_lamc(lam, phi), t)

    def apply_df(self, df, x_expr: Column, y_expr: Column,
                 out_x: str, out_y: str):
        df = df.withColumns({
            "__ig_lam": F.radians(x_expr),
            "__ig_phi": F.radians(y_expr),
        }).withColumns({
            "__ig_lamc": _igh_lamc(F.col("__ig_lam"), F.col("__ig_phi")),
            "__ig_sph": F.sin(F.col("__ig_phi")),
            "__ig_t": F.col("__ig_phi"),
        })
        for _ in range(self.iterations):
            df = df.withColumn(
                "__ig_t", self._step(F.col("__ig_t"), F.col("__ig_sph")))
        x, y = self._xy(F.col("__ig_lam"), F.col("__ig_phi"),
                        F.col("__ig_lamc"), F.col("__ig_t"))
        return df.withColumns({out_x: x, out_y: y}) \
            .drop("__ig_lam", "__ig_phi", "__ig_lamc", "__ig_sph", "__ig_t")


def _igh_to_lonlat_fn(crs: str) -> ColumnTransform:
    """Closed-form inverse: classify moll-vs-sinu by |y| against the
    boundary parallel and the lobe by x against the interruption
    meridians (exactly PROJ's inverse zone test), then invert the
    zone's pseudocylindrical — Mollweide's inverse is closed form, so
    the whole inverse is a single Column tree."""
    r = IGH_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        xn = x / F.lit(r)
        yn = y / F.lit(r)
        lamc = _igh_lamc(xn, yn)
        moll = (yn >= F.lit(_IGH_PHIB)) | (yn < F.lit(-_IGH_PHIB))
        t = F.asin((F.abs(yn) + F.lit(_IGH_DY)) / F.lit(_SQRT2))
        sgn = F.when(yn < F.lit(0.0), F.lit(-1.0)).otherwise(F.lit(1.0))
        phi_m = sgn * F.asin(
            (F.lit(2.0) * t + F.sin(F.lit(2.0) * t)) / F.lit(math.pi))
        lam_m = lamc + (xn - lamc) * F.lit(math.pi) \
            / (F.lit(2.0 * _SQRT2) * F.cos(t))
        lam_s = lamc + (xn - lamc) / F.cos(yn)
        # out-of-domain guard: |y|/R beyond sqrt(2)-dy puts the asin
        # argument past 1 and would silently NaN — corner pixels of a
        # rectangular target bbox land here.  Yield explicit NULL so
        # both engines fail deterministically (advice r9).
        valid = F.abs(yn) <= F.lit(_SQRT2 - _IGH_DY)
        lon = F.when(valid,
                     F.degrees(F.when(moll, lam_m).otherwise(lam_s)))
        lat = F.when(valid,
                     F.degrees(F.when(moll, phi_m).otherwise(yn)))
        return lon, lat

    return inv


def igh_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME interrupted-Goode inverse as SQL strings (for DuckDB
    oracles) — identical zone tests and op order to
    :func:`_igh_to_lonlat_fn`."""
    r = IGH_PARAMS[crs.upper()]
    xn = f"(CAST({x_expr} AS DOUBLE) / {r!r})"
    yn = f"(CAST({y_expr} AS DOUBLE) / {r!r})"
    lamc = (
        f"(CASE WHEN {yn} >= 0.0 THEN "
        f"(CASE WHEN {xn} <= {-_IGH_D40!r} THEN {-_IGH_D100!r} "
        f"ELSE {_IGH_D30!r} END) "
        f"ELSE (CASE WHEN {xn} <= {-_IGH_D100!r} THEN {-_IGH_D160!r} "
        f"WHEN {xn} <= {-_IGH_D20!r} THEN {-_IGH_D60!r} "
        f"WHEN {xn} <= {_IGH_D80!r} THEN {_IGH_D20!r} "
        f"ELSE {_IGH_D140!r} END) END)")
    moll = f"({yn} >= {_IGH_PHIB!r} OR {yn} < {-_IGH_PHIB!r})"
    t = f"asin((abs({yn}) + {_IGH_DY!r}) / {_SQRT2!r})"
    sgn = f"(CASE WHEN {yn} < 0.0 THEN -1.0 ELSE 1.0 END)"
    phi_m = f"({sgn} * asin((2.0 * {t} + sin(2.0 * {t})) / pi()))"
    lam_m = (f"({lamc} + ({xn} - {lamc}) * pi() "
             f"/ ({2.0 * _SQRT2!r} * cos({t})))")
    lam_s = f"({lamc} + ({xn} - {lamc}) / cos({yn}))"
    # same out-of-domain NULL guard as the Column path
    valid = f"(abs({yn}) <= {_SQRT2 - _IGH_DY!r})"
    lon = (f"(CASE WHEN {valid} THEN "
           f"degrees(CASE WHEN {moll} THEN {lam_m} ELSE {lam_s} END) END)")
    lat = (f"(CASE WHEN {valid} THEN "
           f"degrees(CASE WHEN {moll} THEN {phi_m} ELSE {yn} END) END)")
    return lon, lat


# ---- Winkel Tripel (+proj=wintri; ESRI:54042) ---------------------------
#
# The arithmetic-mean compromise world projection (Winkel 1921): the
# average of the equirectangular projection at standard parallel phi1
# and the Aitoff projection (Snyder, "Flattening the Earth", ch. 61;
# PROJ +proj=wintri).  PROJ's default phi1 is Winkel's own choice
# cos(phi1) = 2/pi; ESRI:54042 (World_Winkel_Tripel_NGS) uses it on
# the WGS84 sphere.  Forward is closed form:
#
#   alpha = acos(cos phi * cos(lam/2)),  T = alpha / sin(alpha)
#   x = R/2 (lam cos phi1 + 2 cos phi sin(lam/2) T)
#   y = R/2 (phi + sin phi T)
#
# NO closed-form inverse exists — the inverse is a fixed-count 2-D
# Newton solve of the forward pair with the ANALYTIC Jacobian, the
# published approach for exactly this projection (Ipbuker & Bildirici,
# "A general algorithm for the inverse transformation of map
# projections using jacobian matrices", 2002).  The reference reaches
# wintri only through pyproj (core/gridmapping/transform.py).

#: crs -> (sphere radius, cos phi1)
WINTRI_PARAMS: dict[str, tuple[float, float]] = {
    "ESRI:54042": (6_378_137.0, 2.0 / math.pi),
}
_WINTRI_ITERS = 6
_WT_EPS = 1e-8


def _wt_T(alpha: Column, sa: Column) -> Column:
    """alpha / sin(alpha) with its alpha -> 0 series (1 + a^2/6)."""
    return F.when(alpha < F.lit(_WT_EPS),
                  F.lit(1.0) + alpha * alpha / F.lit(6.0)) \
        .otherwise(alpha / sa)


def _lonlat_to_wintri_fn(crs: str) -> ColumnTransform:
    r, cp1 = WINTRI_PARAMS[crs.upper()]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        lam = F.radians(lon)
        phi = F.radians(lat)
        lam2 = lam / F.lit(2.0)
        cp, sp = F.cos(phi), F.sin(phi)
        q = F.least(cp * F.cos(lam2), F.lit(1.0))
        alpha = F.acos(q)
        t = _wt_T(alpha, F.sin(alpha))
        x = F.lit(0.5 * r) * (lam * F.lit(cp1)
                              + F.lit(2.0) * cp * F.sin(lam2) * t)
        y = F.lit(0.5 * r) * (phi + sp * t)
        return x, y

    return fwd


def _wintri_newton_stage(cp1: float, it: int):
    """One Newton iteration: stage dict mapping the updated
    (__wl, __wp) from the previous env.  f = forward(lam, phi) - in,
    J analytic; delta = J^-1 f."""

    def step(env):
        lam, phi = env["__wl"], env["__wp"]
        xn, yn = env["__wxn"], env["__wyn"]
        lam2 = lam / F.lit(2.0)
        sl2, cl2 = F.sin(lam2), F.cos(lam2)
        sp, cp = F.sin(phi), F.cos(phi)
        q = F.least(cp * cl2, F.lit(1.0))
        alpha = F.acos(q)
        sa = F.sin(alpha)
        t = _wt_T(alpha, sa)
        # dT/dalpha, with its alpha -> 0 limit alpha/3
        dt = F.when(alpha < F.lit(_WT_EPS), alpha / F.lit(3.0)) \
            .otherwise((sa - alpha * F.cos(alpha)) / (sa * sa))
        # dalpha/dlam, dalpha/dphi (0 at the alpha=0 singularity)
        dal = F.when(sa < F.lit(_WT_EPS), F.lit(0.0)) \
            .otherwise(cp * sl2 / (F.lit(2.0) * sa))
        dap = F.when(sa < F.lit(_WT_EPS), F.lit(0.0)) \
            .otherwise(sp * cl2 / sa)
        f1 = F.lit(0.5) * (lam * F.lit(cp1)
                           + F.lit(2.0) * cp * sl2 * t) - xn
        f2 = F.lit(0.5) * (phi + sp * t) - yn
        dxl = F.lit(0.5) * (F.lit(cp1) + F.lit(2.0) * cp
                            * (F.lit(0.5) * cl2 * t + sl2 * dt * dal))
        dxp = F.lit(0.5) * (F.lit(-2.0) * sp * sl2 * t
                            + F.lit(2.0) * cp * sl2 * dt * dap)
        dyl = F.lit(0.5) * (sp * dt * dal)
        dyp = F.lit(0.5) * (F.lit(1.0) + cp * t + sp * dt * dap)
        det = dxl * dyp - dxp * dyl
        new_lam = lam - (dyp * f1 - dxp * f2) / det
        new_phi = phi - (dxl * f2 - dyl * f1) / det
        return (
            F.least(F.greatest(new_lam, F.lit(-math.pi)), F.lit(math.pi)),
            F.least(F.greatest(new_phi, F.lit(-math.pi / 2)),
                    F.lit(math.pi / 2)),
        )

    def c_lam(env, _s=step):
        return _s(env)[0]

    def c_phi(env, _s=step):
        return _s(env)[1]

    # one combined stage would re-evaluate step() twice; emit the pair
    # into a struct-free two-column stage instead (each fn builds its
    # own tree — StagedTransform materializes both as columns, so the
    # NEXT iteration references them without re-expansion)
    return {"__wl": c_lam, "__wp": c_phi}


def _wintri_to_lonlat_fn(crs: str) -> "StagedTransform":
    r, cp1 = WINTRI_PARAMS[crs.upper()]

    def c_xn(env):
        return env["__in_x"] / F.lit(r)

    def c_yn(env):
        return env["__in_y"] / F.lit(r)

    def c_l0(env):
        # exact on the equator: x(lam, 0) = R/2 lam (cos phi1 + 1)
        l0 = F.lit(2.0) * env["__wxn"] / F.lit(1.0 + cp1)
        return F.least(F.greatest(l0, F.lit(-math.pi)), F.lit(math.pi))

    def c_p0(env):
        # exact at the poles and to O(phi^3) near the equator
        return F.least(F.greatest(env["__wyn"], F.lit(-math.pi / 2)),
                       F.lit(math.pi / 2))

    def c_lon(env):
        return F.degrees(env["__wl"])

    def c_lat(env):
        return F.degrees(env["__wp"])

    stages = [
        {"__wxn": c_xn, "__wyn": c_yn},
        {"__wl": c_l0, "__wp": c_p0},
    ]
    for it in range(_WINTRI_ITERS):
        stages.append(_wintri_newton_stage(cp1, it))
    stages.append({"__out_x": c_lon, "__out_y": c_lat})
    return StagedTransform(stages)


def wintri_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                            src: str = "tgt") -> str:
    """The SAME Winkel-Tripel Newton inverse as a chain of CTEs over
    ``src`` (for DuckDB oracles) — identical arithmetic, op order,
    guards, and iteration count to :func:`_wintri_to_lonlat_fn`.
    Emits CTEs ``wt0..`` and finally ``wintri_ll`` = ``src`` columns
    + ``lon``/``lat``."""
    r, cp1 = WINTRI_PARAMS[crs.upper()]
    steps = []
    for it in range(_WINTRI_ITERS):
        lam, phi = f"__wl{it}", f"__wp{it}"
        # per-iteration helper CTE (a/sa/t/dt/partials), then update
        pre = f"""wt{2 * it + 1} AS (
            SELECT *,
                   sin({lam} / 2.0) AS __sl2, cos({lam} / 2.0) AS __cl2,
                   sin({phi}) AS __sp, cos({phi}) AS __cp
            FROM wt{2 * it}
        ), wt{2 * it + 1}b AS (
            SELECT *, acos(LEAST(__cp * __cl2, 1.0)) AS __a FROM wt{2 * it + 1}
        ), wt{2 * it + 1}c AS (
            SELECT *, sin(__a) AS __sa,
                   CASE WHEN __a < {_WT_EPS!r}
                        THEN 1.0 + __a * __a / 6.0
                        ELSE __a / sin(__a) END AS __t,
                   CASE WHEN __a < {_WT_EPS!r} THEN __a / 3.0
                        ELSE (sin(__a) - __a * cos(__a))
                             / (sin(__a) * sin(__a)) END AS __dt
            FROM wt{2 * it + 1}b
        ), wt{2 * it + 1}d AS (
            SELECT *,
                   CASE WHEN __sa < {_WT_EPS!r} THEN 0.0
                        ELSE __cp * __sl2 / (2.0 * __sa) END AS __dal,
                   CASE WHEN __sa < {_WT_EPS!r} THEN 0.0
                        ELSE __sp * __cl2 / __sa END AS __dap,
                   (0.5 * ({lam} * {cp1!r} + 2.0 * __cp * __sl2 * __t)
                    - __wxn) AS __f1,
                   (0.5 * ({phi} + __sp * __t) - __wyn) AS __f2
            FROM wt{2 * it + 1}c
        ), wt{2 * it + 1}e AS (
            SELECT *,
                   (0.5 * ({cp1!r} + 2.0 * __cp
                    * (0.5 * __cl2 * __t + __sl2 * __dt * __dal)))
                       AS __dxl,
                   (0.5 * (-2.0 * __sp * __sl2 * __t
                    + 2.0 * __cp * __sl2 * __dt * __dap)) AS __dxp,
                   (0.5 * (__sp * __dt * __dal)) AS __dyl,
                   (0.5 * (1.0 + __cp * __t + __sp * __dt * __dap))
                       AS __dyp
            FROM wt{2 * it + 1}d
        ), wt{2 * it + 2} AS (
            SELECT * EXCLUDE (__sl2, __cl2, __sp, __cp, __a, __sa, __t,
                              __dt, __dal, __dap, __f1, __f2,
                              __dxl, __dxp, __dyl, __dyp),
                   LEAST(GREATEST({lam} - (__dyp * __f1 - __dxp * __f2)
                                  / (__dxl * __dyp - __dxp * __dyl),
                                  {-math.pi!r}), {math.pi!r})
                       AS __wl{it + 1},
                   LEAST(GREATEST({phi} - (__dxl * __f2 - __dyl * __f1)
                                  / (__dxl * __dyp - __dxp * __dyl),
                                  {-math.pi / 2!r}), {math.pi / 2!r})
                       AS __wp{it + 1}
            FROM wt{2 * it + 1}e
        )"""
        steps.append(pre)
    last = _WINTRI_ITERS
    drops = ", ".join(
        f"__wl{t}, __wp{t}" for t in range(_WINTRI_ITERS + 1))
    chain = ", ".join(steps)
    return f"""wt0 AS (
            SELECT *, (CAST({x_expr} AS DOUBLE) / {r!r}) AS __wxn,
                   (CAST({y_expr} AS DOUBLE) / {r!r}) AS __wyn,
                   LEAST(GREATEST(2.0 * (CAST({x_expr} AS DOUBLE)
                                         / {r!r}) / {1.0 + cp1!r},
                                  {-math.pi!r}), {math.pi!r}) AS __wl0,
                   LEAST(GREATEST((CAST({y_expr} AS DOUBLE) / {r!r}),
                                  {-math.pi / 2!r}), {math.pi / 2!r})
                       AS __wp0
            FROM {src}
        ), {chain}, wintri_ll AS (
            SELECT * EXCLUDE (__wxn, __wyn, {drops}),
                   degrees(__wl{last}) AS lon,
                   degrees(__wp{last}) AS lat
            FROM wt{2 * _WINTRI_ITERS}
        )"""


# ---- Natural Earth (+proj=natearth) -----------------------------------
#
# The Savric/Jenny/Patterson compromise world projection (the
# polynomial form, "A polynomial equation for the Natural Earth
# projection", Cartography and GIS 38(4), 2011; PROJ +proj=natearth):
#
#   x = R lam (A0 + A1 p2 + A2 p4 + A3 p10 + A4 p12)
#   y = R phi (B0 + B1 p2 + B2 p6 + B3 p8  + B4 p10)    (p2 = phi^2)
#
# Spherical only (no EPSG/authority code exists; the canonical member
# runs on the WGS84 semimajor under the stable key PROJ:NATEARTH).
# Inverse: fixed-count Newton on the odd y polynomial (derivative
# coefficients 1/3/7/9/11 x B), then lam from the x polynomial.
# No external control points exist for this CRS — the numerics are
# pinned by the vendored coefficients themselves, a numpy twin test,
# and the roundtrip property.

_NE_A = (0.8707, -0.131979, -0.013791, 0.003971, -0.001529)
_NE_B = (1.007226, 0.015085, -0.044475, 0.028874, -0.005916)
_NE_C = (_NE_B[0], 3.0 * _NE_B[1], 7.0 * _NE_B[2],
         9.0 * _NE_B[3], 11.0 * _NE_B[4])

NATEARTH_PARAMS: dict[str, float] = {
    "PROJ:NATEARTH": _R,
}

_NE_ITERS = 6


def _ne_xfac(p2):
    """x polynomial factor (Column), nested exactly as the SQL twin:
    A0 + p2*(A1 + p2*(A2 + p2^3*(A3 + p2*A4)))."""
    a0, a1, a2, a3, a4 = (F.lit(v) for v in _NE_A)
    return a0 + p2 * (a1 + p2 * (a2 + p2 * p2 * p2
                                 * (a3 + p2 * a4)))


def _ne_yfac(p2):
    b0, b1, b2, b3, b4 = (F.lit(v) for v in _NE_B)
    return b0 + p2 * (b1 + p2 * p2 * (b2 + b3 * p2 + b4 * p2 * p2))


def _ne_dy(p2):
    c0, c1, c2, c3, c4 = (F.lit(v) for v in _NE_C)
    return c0 + p2 * (c1 + p2 * p2 * (c2 + c3 * p2 + c4 * p2 * p2))


def _lonlat_to_natearth_fn(crs: str) -> "StagedTransform":
    r = NATEARTH_PARAMS[crs.upper()]

    def s_phi(env):
        return F.radians(env["__in_y"])

    def out(env):
        phi = env["__phi"]
        p2 = phi * phi
        x = F.lit(r) * F.radians(env["__in_x"]) * _ne_xfac(p2)
        y = F.lit(r) * phi * _ne_yfac(p2)
        return x, y

    return StagedTransform([
        {"__phi": s_phi},
        {"__out_x": lambda env: out(env)[0],
         "__out_y": lambda env: out(env)[1]},
    ])


def _natearth_to_lonlat_fn(crs: str) -> "StagedTransform":
    r = NATEARTH_PARAMS[crs.upper()]

    def s_yn(env):
        return env["__in_y"] / F.lit(r)

    def s_phi0(env):
        return env["__yn"]  # y/R is within ~7% of phi everywhere

    def step(env):
        phi = env["__phi"]
        p2 = phi * phi
        return phi - (phi * _ne_yfac(p2) - env["__yn"]) / _ne_dy(p2)

    def out_x(env):
        phi = env["__phi"]
        p2 = phi * phi
        return F.degrees(
            env["__in_x"] / (F.lit(r) * _ne_xfac(p2)))

    def out_y(env):
        return F.degrees(env["__phi"])

    stages: list[dict] = [{"__yn": s_yn}, {"__phi": s_phi0}]
    stages += [{"__phi": step} for _ in range(_NE_ITERS)]
    stages += [{"__out_x": out_x, "__out_y": out_y}]
    return StagedTransform(stages)


def natearth_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                              src: str = "tgt") -> str:
    """The SAME Natural Earth inverse as a chain of CTEs over ``src``
    (for DuckDB oracles) — identical nesting and iteration count to
    :func:`_natearth_to_lonlat_fn`.  Emits CTEs ``ne1..`` and finally
    ``natearth_ll`` = ``src`` columns + ``lon``/``lat``."""
    r = NATEARTH_PARAMS[crs.upper()]
    a0, a1, a2, a3, a4 = _NE_A
    b0, b1, b2, b3, b4 = _NE_B
    c0, c1, c2, c3, c4 = _NE_C

    def yfac(p2):
        return (f"({b0!r} + {p2} * ({b1!r} + {p2} * {p2} "
                f"* ({b2!r} + {b3!r} * {p2} + {b4!r} * {p2} * {p2})))")

    def dy(p2):
        return (f"({c0!r} + {p2} * ({c1!r} + {p2} * {p2} "
                f"* ({c2!r} + {c3!r} * {p2} + {c4!r} * {p2} * {p2})))")

    def xfac(p2):
        return (f"({a0!r} + {p2} * ({a1!r} + {p2} * ({a2!r} "
                f"+ {p2} * {p2} * {p2} * ({a3!r} + {p2} * {a4!r}))))")

    iters = "".join(f"""), ne{3 + k} AS (
            SELECT * EXCLUDE (__phi),
                   (__phi - (__phi * {yfac('(__phi * __phi)')} - __yn)
                    / {dy('(__phi * __phi)')}) AS __phi
            FROM ne{2 + k}""" for k in range(_NE_ITERS))
    n_last = 2 + _NE_ITERS
    return f"""ne1 AS (
            SELECT *, (CAST({y_expr} AS DOUBLE) / {r!r}) AS __yn,
                   CAST({x_expr} AS DOUBLE) AS __xe
            FROM {src}
        ), ne2 AS (
            SELECT *, __yn AS __phi FROM ne1
        {iters}), natearth_ll AS (
            SELECT * EXCLUDE (__yn, __xe, __phi),
                   degrees(__xe / ({r!r}
                       * {xfac('(__phi * __phi)')})) AS lon,
                   degrees(__phi) AS lat
            FROM ne{n_last}
        )"""


# ---- Eckert IV (World_Eckert_IV, ESRI:54012) --------------------------
#
# Equal-area pseudocylindrical world CRS (Snyder, An Album of Map
# Projections p. 60 / PROJ eck4): solve ``t + sin t cos t + 2 sin t
# = (2 + pi/2) sin(phi)`` for the auxiliary angle, then
# ``x = Cx R lam (1 + cos t)``, ``y = Cy R sin t``.  Spherical on
# the WGS84 semimajor (proj +proj=eck4 +ellps=WGS84 convention, as
# with Mollweide above).  The pole line is half the equator length
# and the map is equal-area (both pinned by tests).

ECK4_PARAMS: dict[str, float] = {
    "ESRI:54012": _R,
}
_ECK4_CX = 2.0 / math.sqrt(math.pi * (4.0 + math.pi))
_ECK4_CY = 2.0 * math.sqrt(math.pi / (4.0 + math.pi))
_ECK4_CP = 2.0 + math.pi / 2.0


class _Eck4Forward:
    """lon/lat -> Eckert IV; the Newton solve for t is staged as
    materialized columns (apply_df), mirroring _MollForward."""

    def __init__(self, crs: str, iterations: int = 10):
        self.r = ECK4_PARAMS[crs.upper()]
        self.iterations = iterations

    def _step(self, t: Column, sinphi: Column) -> Column:
        # Newton on f(t) = t + sin t cos t + 2 sin t - Cp sin phi;
        # f'(t) = 2 cos t (1 + cos t) vanishes at the poles where
        # t = phi is already the solution
        num = t + F.sin(t) * F.cos(t) + F.lit(2.0) * F.sin(t) \
            - F.lit(_ECK4_CP) * sinphi
        den = F.lit(2.0) * F.cos(t) * (F.lit(1.0) + F.cos(t))
        return F.when(F.abs(den) < 1e-12, t).otherwise(t - num / den)

    def _xy(self, lon: Column, t: Column) -> tuple[Column, Column]:
        x = F.lit(_ECK4_CX * self.r) * F.radians(lon) \
            * (F.lit(1.0) + F.cos(t))
        y = F.lit(_ECK4_CY * self.r) * F.sin(t)
        return x, y

    def __call__(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        t = F.radians(lat)
        sinphi = F.sin(F.radians(lat))
        for _ in range(self.iterations):
            t = self._step(t, sinphi)
        return self._xy(lon, t)

    def apply_df(self, df, x_expr: Column, y_expr: Column,
                 out_x: str, out_y: str):
        df = df.withColumns({
            "__e4_lam": x_expr,
            "__e4_sph": F.sin(F.radians(y_expr)),
            "__e4_t": F.radians(y_expr),
        })
        for _ in range(self.iterations):
            df = df.withColumn(
                "__e4_t", self._step(F.col("__e4_t"), F.col("__e4_sph")))
        x, y = self._xy(F.col("__e4_lam"), F.col("__e4_t"))
        return df.withColumns({out_x: x, out_y: y}) \
            .drop("__e4_lam", "__e4_sph", "__e4_t")


def _eck4_to_lonlat_fn(crs: str) -> ColumnTransform:
    r = ECK4_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        t = F.asin(y / F.lit(_ECK4_CY * r))
        phi = F.asin(
            (t + F.sin(t) * F.cos(t) + F.lit(2.0) * F.sin(t))
            / F.lit(_ECK4_CP))
        lon = F.degrees(
            x / (F.lit(_ECK4_CX * r) * (F.lit(1.0) + F.cos(t))))
        return lon, F.degrees(phi)

    return inv


def eck4_inverse_sql(x_expr: str, y_expr: str, crs: str) \
        -> tuple[str, str]:
    """The SAME Eckert-IV inverse as SQL strings (for DuckDB
    oracles) — identical op order to :func:`_eck4_to_lonlat_fn`."""
    r = ECK4_PARAMS[crs.upper()]
    t = f"asin(CAST({y_expr} AS DOUBLE) / {_ECK4_CY * r!r})"
    phi = (f"degrees(asin(({t} + sin({t}) * cos({t})"
           f" + 2.0 * sin({t})) / {_ECK4_CP!r}))")
    lon = (f"degrees(CAST({x_expr} AS DOUBLE) / ({_ECK4_CX * r!r}"
           f" * (1.0 + cos({t}))))")
    return lon, phi


# ---- Miller cylindrical (World_Miller_Cylindrical, ESRI:54003) --------
#
# Snyder 1987 ch. 11 (eqs. 11-1..11-7): ``x = R lam``,
# ``y = 1.25 R ln tan(pi/4 + 0.4 phi)`` — a Mercator compressed by
# 0.8 in latitude, so y_mill(phi) = 1.25 * y_merc(0.8 phi), an exact
# identity tests pin against the web-mercator family.  Closed form
# both directions; spherical on the WGS84 semimajor.

MILL_PARAMS: dict[str, float] = {
    "ESRI:54003": _R,
}


def _lonlat_to_mill_fn(crs: str) -> ColumnTransform:
    r = MILL_PARAMS[crs.upper()]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        x = F.lit(r) * F.radians(lon)
        y = F.lit(1.25 * r) * F.log(
            F.tan(F.lit(math.pi / 4.0)
                  + F.lit(0.4) * F.radians(lat)))
        return x, y

    return fwd


def _mill_to_lonlat_fn(crs: str) -> ColumnTransform:
    r = MILL_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        lat = F.degrees(F.lit(2.5) * (
            F.atan(F.exp(F.lit(0.8) * y / F.lit(r)))
            - F.lit(math.pi / 4.0)))
        lon = F.degrees(x / F.lit(r))
        return lon, lat

    return inv


def mill_inverse_sql(x_expr: str, y_expr: str, crs: str) \
        -> tuple[str, str]:
    """The SAME Miller inverse as SQL strings (for DuckDB oracles)."""
    r = MILL_PARAMS[crs.upper()]
    lat = (f"degrees(2.5 * (atan(exp(0.8 * CAST({y_expr} AS DOUBLE)"
           f" / {r!r})) - {math.pi / 4.0!r}))")
    lon = f"degrees(CAST({x_expr} AS DOUBLE) / {r!r})"
    return lon, lat


# ---- Van der Grinten I (World_Van_der_Grinten_I, ESRI:54029) ----------
#
# The world-in-a-circle atlas projection, Snyder 1987 ch. 33:
# forward eqs. 33-1..33-13 (circular-arc construction), inverse
# 33-14..33-23 (the trigonometric cubic root).  Closed form both
# directions; spherical on the WGS84 semimajor.  The equator maps
# linearly (x = R lam) and the world boundary is the circle of
# radius pi R (both pinned by tests).

VANDG_PARAMS: dict[str, float] = {
    "ESRI:54029": _R,
}


def _lonlat_to_vandg_fn(crs: str) -> "StagedTransform":
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r

    stages: list[dict] = [
        {"__lam": lambda env: F.radians(env["__in_x"]),
         "__phi": lambda env: F.radians(env["__in_y"])},
        # theta = asin|2 phi / pi| (33-6); A (33-2); sign carriers
        {"__th": lambda env: F.asin(
            F.abs(F.lit(2.0) * env["__phi"] / F.lit(math.pi))),
         "__A": lambda env: F.lit(0.5) * F.abs(
             F.lit(math.pi) / env["__lam"]
             - env["__lam"] / F.lit(math.pi)),
         "__sx": lambda env: F.signum(env["__lam"]),
         "__sy": lambda env: F.signum(env["__phi"])},
        # G (33-3), P (33-4) — guarded at phi = 0 where the general
        # form degenerates (the equator maps linearly, 33-9)
        {"__G": lambda env: F.cos(env["__th"]) / (
            F.sin(env["__th"]) + F.cos(env["__th"]) - F.lit(1.0)),
         },
        {"__P": lambda env: env["__G"] * (
            F.lit(2.0) / F.sin(env["__th"]) - F.lit(1.0))},
        {"__Q": lambda env: env["__A"] * env["__A"] + env["__G"],
         "__P2": lambda env: env["__P"] * env["__P"],
         "__A2": lambda env: env["__A"] * env["__A"]},
        # x (33-7), y (33-8) with the equator / central-meridian /
        # pole special cases (33-9..33-13)
        {"__out_x": lambda env: F.when(
            F.abs(env["__phi"]) < F.lit(1e-12),
            F.lit(r) * env["__lam"]
        ).when(
            F.abs(env["__lam"]) < F.lit(1e-12), F.lit(0.0)
        ).otherwise(
            env["__sx"] * F.lit(pr) * (
                env["__A"] * (env["__G"] - env["__P2"]) + F.sqrt(
                    env["__A2"]
                    * (env["__G"] - env["__P2"])
                    * (env["__G"] - env["__P2"])
                    - (env["__P2"] + env["__A2"])
                    * (env["__G"] * env["__G"] - env["__P2"]))
            ) / (env["__P2"] + env["__A2"])),
         "__out_y": lambda env: F.when(
            F.abs(env["__phi"]) < F.lit(1e-12), F.lit(0.0)
         ).when(
            F.abs(env["__lam"]) < F.lit(1e-12),
            env["__sy"] * F.lit(pr)
            * F.tan(env["__th"] / F.lit(2.0))
         ).otherwise(
            env["__sy"] * F.lit(pr) * (
                env["__P"] * env["__Q"] - env["__A"] * F.sqrt(
                    (env["__A2"] + F.lit(1.0))
                    * (env["__P2"] + env["__A2"])
                    - env["__Q"] * env["__Q"])
            ) / (env["__P2"] + env["__A2"]))},
    ]
    return StagedTransform(stages)


def _vandg_to_lonlat_fn(crs: str) -> "StagedTransform":
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r

    stages: list[dict] = [
        {"__X": lambda env: env["__in_x"] / F.lit(pr),
         "__Y": lambda env: env["__in_y"] / F.lit(pr)},
        {"__X2": lambda env: env["__X"] * env["__X"],
         "__Y2": lambda env: env["__Y"] * env["__Y"]},
        # c1..c3 (33-16..33-18)
        {"__c1": lambda env: F.lit(-1.0) * F.abs(env["__Y"]) * (
            F.lit(1.0) + env["__X2"] + env["__Y2"])},
        {"__c2": lambda env: env["__c1"] - F.lit(2.0) * env["__Y2"]
            + env["__X2"]},
        {"__c3": lambda env: F.lit(-2.0) * env["__c1"] + F.lit(1.0)
            + F.lit(2.0) * env["__Y2"]
            + (env["__X2"] + env["__Y2"])
            * (env["__X2"] + env["__Y2"])},
        # d (33-19), a1 (33-20), m1 (33-21), theta1 (33-22)
        {"__d": lambda env: env["__Y2"] / env["__c3"] + (
            F.lit(2.0) * env["__c2"] * env["__c2"] * env["__c2"]
            / (env["__c3"] * env["__c3"] * env["__c3"])
            - F.lit(9.0) * env["__c1"] * env["__c2"]
            / (env["__c3"] * env["__c3"])) / F.lit(27.0),
         "__a1": lambda env: (env["__c1"] - env["__c2"] * env["__c2"]
                              / (F.lit(3.0) * env["__c3"]))
            / env["__c3"]},
        {"__m1": lambda env: F.lit(2.0) * F.sqrt(
            F.lit(-1.0) * env["__a1"] / F.lit(3.0))},
        {"__t1": lambda env: F.acos(
            F.lit(3.0) * env["__d"]
            / (env["__a1"] * env["__m1"])) / F.lit(3.0)},
        # phi (33-23) guarded at Y = 0; lam (33-15) guarded at X = 0
        {"__out_y": lambda env: F.when(
            F.abs(env["__Y"]) < F.lit(1e-12), F.lit(0.0)
        ).otherwise(F.degrees(
            F.signum(env["__Y"]) * F.lit(math.pi) * (
                F.lit(-1.0) * env["__m1"] * F.cos(
                    env["__t1"] + F.lit(math.pi / 3.0))
                - env["__c2"] / (F.lit(3.0) * env["__c3"])))),
         "__out_x": lambda env: F.when(
            F.abs(env["__X"]) < F.lit(1e-12), F.lit(0.0)
         ).otherwise(F.degrees(
            F.lit(math.pi) * (
                env["__X2"] + env["__Y2"] - F.lit(1.0) + F.sqrt(
                    F.lit(1.0)
                    + F.lit(2.0) * (env["__X2"] - env["__Y2"])
                    + (env["__X2"] + env["__Y2"])
                    * (env["__X2"] + env["__Y2"])))
            / (F.lit(2.0) * env["__X"])))},
    ]
    return StagedTransform(stages)


def vandg_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                           src: str = "tgt") -> str:
    """The SAME Van der Grinten inverse as a chain of CTEs over
    ``src`` (for DuckDB oracles) — identical arithmetic to
    :func:`_vandg_to_lonlat_fn`.  Emits CTEs ``vg1..`` and finally
    ``vandg_ll`` = ``src`` columns + ``lon``/``lat``."""
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r
    return f"""vg1 AS (
            SELECT *, (({x_expr}) / {pr!r}) AS __X,
                   (({y_expr}) / {pr!r}) AS __Y
            FROM {src}
        ), vg2 AS (
            SELECT *, (__X * __X) AS __X2, (__Y * __Y) AS __Y2
            FROM vg1
        ), vg3 AS (
            SELECT *, (-1.0 * abs(__Y)
                       * (1.0 + __X2 + __Y2)) AS __c1
            FROM vg2
        ), vg4 AS (
            SELECT *, (__c1 - 2.0 * __Y2 + __X2) AS __c2
            FROM vg3
        ), vg5 AS (
            SELECT *, (-2.0 * __c1 + 1.0 + 2.0 * __Y2
                       + (__X2 + __Y2) * (__X2 + __Y2)) AS __c3
            FROM vg4
        ), vg6 AS (
            SELECT *,
                   (__Y2 / __c3 + (2.0 * __c2 * __c2 * __c2
                                   / (__c3 * __c3 * __c3)
                                   - 9.0 * __c1 * __c2
                                   / (__c3 * __c3)) / 27.0) AS __d,
                   ((__c1 - __c2 * __c2 / (3.0 * __c3))
                    / __c3) AS __a1
            FROM vg5
        ), vg7 AS (
            SELECT *, (2.0 * sqrt(-1.0 * __a1 / 3.0)) AS __m1
            FROM vg6
        ), vg8 AS (
            SELECT *, (acos(3.0 * __d / (__a1 * __m1))
                       / 3.0) AS __t1
            FROM vg7
        ), vandg_ll AS (
            SELECT * EXCLUDE (__X, __Y, __X2, __Y2, __c1, __c2,
                              __c3, __d, __a1, __m1, __t1),
                   CASE WHEN abs(__X) < 1e-12 THEN 0.0
                        ELSE degrees({math.pi!r} * (
                            __X2 + __Y2 - 1.0 + sqrt(
                                1.0 + 2.0 * (__X2 - __Y2)
                                + (__X2 + __Y2) * (__X2 + __Y2)))
                            / (2.0 * __X))
                   END AS lon,
                   CASE WHEN abs(__Y) < 1e-12 THEN 0.0
                        ELSE degrees(sign(__Y) * {math.pi!r} * (
                            -1.0 * __m1 * cos(__t1
                                + {math.pi / 3.0!r})
                            - __c2 / (3.0 * __c3)))
                   END AS lat
            FROM vg8
        )"""


# ---- sinusoidal (MODIS grid, ESRI:54008) ------------------------------
#
# The MODIS land-product tiling CRS: spherical sinusoidal on the
# authalic radius (x = R lam cos(phi), y = R phi).

#: crs aliases -> sphere radius (MODIS SR-ORG:6974 uses 6371007.181)
SINU_PARAMS: dict[str, float] = {
    "ESRI:54008": 6_371_007.181,
    "SR-ORG:6974": 6_371_007.181,
}


def _lonlat_to_sinu_fn(crs: str) -> ColumnTransform:
    r = SINU_PARAMS[crs.upper()]

    def fwd(lon: Column, lat: Column) -> tuple[Column, Column]:
        return (F.lit(r) * F.radians(lon) * F.cos(F.radians(lat)),
                F.lit(r) * F.radians(lat))

    return fwd


def _sinu_to_lonlat_fn(crs: str) -> ColumnTransform:
    r = SINU_PARAMS[crs.upper()]

    def inv(x: Column, y: Column) -> tuple[Column, Column]:
        phi = y / F.lit(r)
        return F.degrees(x / (F.lit(r) * F.cos(phi))), F.degrees(phi)

    return inv


def sinu_inverse_sql(x_expr: str, y_expr: str, crs: str) -> tuple[str, str]:
    """The SAME sinusoidal inverse as SQL strings (for DuckDB oracles)."""
    r = SINU_PARAMS[crs.upper()]
    phi = f"(CAST({y_expr} AS DOUBLE) / {r!r})"
    lon = f"degrees(CAST({x_expr} AS DOUBLE) / ({r!r} * cos({phi})))"
    return lon, f"degrees({phi})"


# ---- Robinson (+proj=robin; ESRI:54030) ---------------------------------
#
# The classic compromise world projection (Robinson 1974; Snyder
# "Flattening the Earth" ch. on pseudocylindricals): defined by a
# TABLE, not a formula — published (X, Y) scale factors every 5 deg of
# latitude, interpolated smoothly.  x = 0.8487 R X(|lat|) lam,
# y = 1.3523 R Y(|lat|) sign(lat).  This implementation interpolates
# with the natural cubic spline through the 19 published nodes
# (coefficients solved once at import by a pure-Python tridiagonal
# pass and embedded identically in the Column math and the SQL twin);
# the inverse solves the monotone Y cubic per interval with a
# fixed-count Newton (4 iterations — the sterea/somerc discipline:
# both engines run the SAME count).

#: the published Robinson table: (X, Y) per 5 deg, 0..90
_ROBIN_X = (1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600,
            0.9427, 0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597,
            0.7186, 0.6732, 0.6213, 0.5722, 0.5322)
_ROBIN_Y = (0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720,
            0.4340, 0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903,
            0.8435, 0.8936, 0.9394, 0.9761, 1.0000)
_ROBIN_XK = 0.8487
_ROBIN_YK = 1.3523
_ROBIN_ITERS = 4


def _nat_cubic_coeffs(v: tuple) -> list[tuple]:
    """Natural cubic spline through ``v`` at unit spacing: per-interval
    (a, b, c, d) with value a + b s + c s^2 + d s^3, s in [0, 1].
    Pure-Python Thomas algorithm (n = 19 — microseconds at import)."""
    n = len(v) - 1
    rhs = [0.0] + [6.0 * (v[i + 1] - 2.0 * v[i] + v[i - 1])
                   for i in range(1, n)] + [0.0]
    # tridiagonal (1, 4, 1) with natural ends M[0] = M[n] = 0
    cp = [0.0] * (n + 1)
    dp = [0.0] * (n + 1)
    for i in range(1, n):
        m = 4.0 - cp[i - 1]
        cp[i] = 1.0 / m
        dp[i] = (rhs[i] - dp[i - 1]) / m
    big_m = [0.0] * (n + 1)
    for i in range(n - 1, 0, -1):
        big_m[i] = dp[i] - cp[i] * big_m[i + 1]
    out = []
    for i in range(n):
        a = v[i]
        c = big_m[i] / 2.0
        d = (big_m[i + 1] - big_m[i]) / 6.0
        b = v[i + 1] - v[i] - (2.0 * big_m[i] + big_m[i + 1]) / 6.0
        out.append((a, b, c, d))
    return out


_ROBIN_XC = _nat_cubic_coeffs(_ROBIN_X)
_ROBIN_YC = _nat_cubic_coeffs(_ROBIN_Y)

#: crs -> sphere radius (the ESRI:54030 convention uses the WGS84
#: semi-major as the sphere, like web-mercator)
ROBIN_PARAMS: dict[str, float] = {
    "ESRI:54030": 6_378_137.0,
}


def _robin_pick(i: Column, vals: list[float]) -> Column:
    """CASE ladder selecting a per-interval spline constant."""
    expr = F.lit(vals[-1])
    for j in range(len(vals) - 2, -1, -1):
        expr = F.when(i == j, F.lit(vals[j])).otherwise(expr)
    return expr


def _robin_pick_sql(i: str, vals: list[float]) -> str:
    arms = " ".join(f"WHEN {j} THEN {vals[j]!r}"
                    for j in range(len(vals) - 1))
    return f"(CASE {i} {arms} ELSE {vals[-1]!r} END)"


def _lonlat_to_robin_fn(crs: str) -> "StagedTransform":
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))

    def c_ad(env):
        return F.least(F.abs(env["__in_y"]) / F.lit(5.0),
                       F.lit(17.999999))

    def c_i(env):
        return F.floor(env["__ad"]).cast("int")

    def c_s(env):
        return env["__ad"] - env["__i"].cast("double")

    def c_xf(env):
        i, s = env["__i"], env["__s"]
        return (_robin_pick(i, xa) + _robin_pick(i, xb) * s
                + _robin_pick(i, xc) * s * s
                + _robin_pick(i, xd) * s * s * s)

    def c_yf(env):
        i, s = env["__i"], env["__s"]
        return (_robin_pick(i, ya) + _robin_pick(i, yb) * s
                + _robin_pick(i, yc) * s * s
                + _robin_pick(i, yd) * s * s * s)

    def c_out_x(env):
        return F.lit(xk) * env["__xf"] * F.radians(env["__in_x"])

    def c_out_y(env):
        return (F.lit(yk) * env["__yf"]
                * F.signum(env["__in_y"] + F.lit(0.0)))

    return StagedTransform([
        {"__ad": c_ad},
        {"__i": c_i},
        {"__s": c_s},
        {"__xf": c_xf, "__yf": c_yf},
        {"__out_x": c_out_x, "__out_y": c_out_y},
    ])


def _robin_to_lonlat_fn(crs: str) -> "StagedTransform":
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))
    nodes = list(_ROBIN_Y)

    def c_ay(env):
        return F.least(F.abs(env["__in_y"]) / F.lit(yk), F.lit(1.0))

    def c_i(env):
        # largest interval whose lower node <= ay (17 comparisons),
        # capped at the last interval
        ay = env["__ay"]
        i = F.lit(0)
        for j in range(1, len(nodes) - 1):
            i = i + F.when(ay >= F.lit(nodes[j]), 1).otherwise(0)
        return i.cast("int")

    def c_s(env):
        # linear seed inside the interval
        i, ay = env["__i"], env["__ay"]
        lo = _robin_pick(i, nodes[:-1])
        hi = _robin_pick(i, nodes[1:])
        return (ay - lo) / (hi - lo)

    def mk_step(env):
        i, s, ay = env["__i"], env["__s"], env["__ay"]
        f = (_robin_pick(i, ya) + _robin_pick(i, yb) * s
             + _robin_pick(i, yc) * s * s
             + _robin_pick(i, yd) * s * s * s) - ay
        fp = (_robin_pick(i, yb) + F.lit(2.0) * _robin_pick(i, yc) * s
              + F.lit(3.0) * _robin_pick(i, yd) * s * s)
        return s - f / fp

    def c_lat(env):
        return (F.lit(5.0) * (env["__i"].cast("double") + env["__s"])
                * F.signum(env["__in_y"] + F.lit(0.0)))

    def c_lon(env):
        i, s = env["__i"], env["__s"]
        xf = (_robin_pick(i, xa) + _robin_pick(i, xb) * s
              + _robin_pick(i, xc) * s * s
              + _robin_pick(i, xd) * s * s * s)
        return F.degrees(env["__in_x"] / (F.lit(xk) * xf))

    stages = [{"__ay": c_ay}, {"__i": c_i}, {"__s": c_s}]
    for _ in range(_ROBIN_ITERS):
        stages.append({"__s": mk_step})
    stages.append({"__out_x": c_lon, "__out_y": c_lat})
    return StagedTransform(stages)


def robin_inverse_sql_ctes(x_expr: str, y_expr: str, crs: str,
                           src: str = "tgt") -> str:
    """The SAME Robinson inverse as a chain of CTEs over ``src`` (for
    DuckDB oracles) — identical arithmetic and Newton count to
    :func:`_robin_to_lonlat_fn`.  Emits CTEs ``rb1..`` and finally
    ``robin_ll`` = ``src`` columns + ``lon``/``lat``."""
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))
    nodes = list(_ROBIN_Y)
    isum = " + ".join(
        f"(CASE WHEN __ay >= {nodes[j]!r} THEN 1 ELSE 0 END)"
        for j in range(1, len(nodes) - 1))
    steps = []
    for t in range(_ROBIN_ITERS):
        cur, nxt = f"__s{t}", f"__s{t + 1}"
        f = (f"({_robin_pick_sql('__i', list(ya))} "
             f"+ {_robin_pick_sql('__i', list(yb))} * {cur} "
             f"+ {_robin_pick_sql('__i', list(yc))} * {cur} * {cur} "
             f"+ {_robin_pick_sql('__i', list(yd))} * {cur} * {cur}"
             f" * {cur}) - __ay")
        fp = (f"({_robin_pick_sql('__i', list(yb))} "
              f"+ 2.0 * {_robin_pick_sql('__i', list(yc))} * {cur} "
              f"+ 3.0 * {_robin_pick_sql('__i', list(yd))} * {cur}"
              f" * {cur})")
        steps.append(f"""rb{4 + t} AS (
            SELECT *, ({cur} - ({f}) / {fp}) AS {nxt}
            FROM rb{3 + t}
        )""")
    last = f"__s{_ROBIN_ITERS}"
    xf = (f"({_robin_pick_sql('__i', list(xa))} "
          f"+ {_robin_pick_sql('__i', list(xb))} * {last} "
          f"+ {_robin_pick_sql('__i', list(xc))} * {last} * {last} "
          f"+ {_robin_pick_sql('__i', list(xd))} * {last} * {last}"
          f" * {last})")
    lo = _robin_pick_sql("__i", nodes[:-1])
    hi = _robin_pick_sql("__i", nodes[1:])
    chain = ", ".join(steps)
    return f"""rb1 AS (
            SELECT *, LEAST(abs({y_expr}) / {yk!r}, 1.0) AS __ay,
                   ({x_expr}) AS __rx, ({y_expr}) AS __ry
            FROM {src}
        ), rb2 AS (
            SELECT *, CAST(({isum}) AS INT) AS __i FROM rb1
        ), rb3 AS (
            SELECT *, ((__ay - {lo}) / ({hi} - {lo})) AS __s0
            FROM rb2
        ), {chain}, robin_ll AS (
            SELECT * EXCLUDE (__ay, __rx, __ry, __i,
                              {", ".join(f"__s{t}" for t in
                                         range(_ROBIN_ITERS + 1))}),
                   degrees(__rx / ({xk!r} * {xf})) AS lon,
                   (5.0 * (CAST(__i AS DOUBLE) + {last})
                    * CASE WHEN (__ry + 0.0) > 0.0 THEN 1.0
                           WHEN (__ry + 0.0) < 0.0 THEN -1.0
                           ELSE 0.0 END) AS lat
            FROM rb{3 + _ROBIN_ITERS}
        )"""


#: registry of pure-Column CRS transforms (target CRS -> source CRS)
COLUMN_TRANSFORMS: dict[tuple[str, str], ColumnTransform] = {
    ("EPSG:4326", "EPSG:4326"): _identity,
    ("EPSG:3857", "EPSG:3857"): _identity,
    ("EPSG:3857", "EPSG:4326"): _mercator_to_lonlat,
    ("EPSG:4326", "EPSG:3857"): _lonlat_to_mercator,
}


def _to_lonlat_fn(crs: str) -> ColumnTransform | None:
    """Closed-form transform from ``crs`` into EPSG:4326, if known."""
    up = crs.upper()
    if up == "EPSG:4326":
        return _identity
    if up == "EPSG:3857":
        return _mercator_to_lonlat
    if up in MERC_PARAMS:
        return _merc_to_lonlat_fn(up)
    if up in GEOS_PARAMS:
        return _geos_to_lonlat_fn(up)
    if up in ROTPOLE_PARAMS:
        return _rotpole_to_lonlat_fn(up)
    if up in STEREA_PARAMS:
        return _sterea_to_lonlat_fn(up)
    if up in SOMERC_PARAMS:
        return _somerc_to_lonlat_fn(up)
    if up in KROVAK_PARAMS:
        return _krovak_to_lonlat_fn(up)
    if up in EQEARTH_PARAMS:
        return _eqearth_to_lonlat_fn(up)
    if up in CASS_PARAMS:
        return _cass_to_lonlat_fn(up)
    if up in POLY_PARAMS:
        return _poly_to_lonlat_fn(up)
    if up in PS_PARAMS:
        return _ps_to_lonlat_fn(up)
    if up in CEA_PARAMS:
        return _cea_to_lonlat_fn(up)
    if up in AEQD_PARAMS:
        return _aeqd_to_lonlat_fn(up)
    if up in ORTHO_PARAMS:
        return _ortho_to_lonlat_fn(up)
    if up in NSPER_PARAMS:
        return _nsper_to_lonlat_fn(up)
    if up in STEREG_PARAMS:
        return _stereg_to_lonlat_fn(up)
    if up in OMERC_PARAMS:
        return _omerc_to_lonlat_fn(up)
    if up in EQC_PARAMS:
        return _eqc_to_lonlat_fn(up)
    if up in EQDC_PARAMS:
        return _eqdc_to_lonlat_fn(up)
    if up in LAEA_PARAMS:
        return _laea_to_lonlat_fn(up)
    if up in LCC_PARAMS:
        return _lcc_to_lonlat_fn(up)
    if up in AEA_PARAMS:
        return _aea_to_lonlat_fn(up)
    if up in SINU_PARAMS:
        return _sinu_to_lonlat_fn(up)
    if up in MOLL_PARAMS:
        return _moll_to_lonlat_fn(up)
    if up in ECK4_PARAMS:
        return _eck4_to_lonlat_fn(up)
    if up in NATEARTH_PARAMS:
        return _natearth_to_lonlat_fn(up)
    if up in GNOM_PARAMS:
        return _gnom_to_lonlat_fn(up)
    if up in MILL_PARAMS:
        return _mill_to_lonlat_fn(up)
    if up in VANDG_PARAMS:
        return _vandg_to_lonlat_fn(up)
    if up in ROBIN_PARAMS:
        return _robin_to_lonlat_fn(up)
    if up in HAMMER_PARAMS:
        return _hammer_to_lonlat_fn(up)
    if up in IGH_PARAMS:
        return _igh_to_lonlat_fn(up)
    if up in WINTRI_PARAMS:
        return _wintri_to_lonlat_fn(up)
    if up == "EPSG:27700":
        return _osgb_to_lonlat_fn()
    if up in TM_PARAMS:
        return _tm_to_lonlat_fn(up)
    utm = parse_utm_crs(up)
    if utm:
        return _utm_to_lonlat_fn(*utm)
    return None


def _from_lonlat_fn(crs: str) -> ColumnTransform | None:
    """Closed-form transform from EPSG:4326 into ``crs``, if known."""
    up = crs.upper()
    if up == "EPSG:4326":
        return _identity
    if up == "EPSG:3857":
        return _lonlat_to_mercator
    if up in MERC_PARAMS:
        return _lonlat_to_merc_fn(up)
    if up in GEOS_PARAMS:
        return _lonlat_to_geos_fn(up)
    if up in ROTPOLE_PARAMS:
        return _lonlat_to_rotpole_fn(up)
    if up in STEREA_PARAMS:
        return _lonlat_to_sterea_fn(up)
    if up in SOMERC_PARAMS:
        return _lonlat_to_somerc_fn(up)
    if up in KROVAK_PARAMS:
        return _lonlat_to_krovak_fn(up)
    if up in EQEARTH_PARAMS:
        return _lonlat_to_eqearth_fn(up)
    if up in CASS_PARAMS:
        return _lonlat_to_cass_fn(up)
    if up in POLY_PARAMS:
        return _lonlat_to_poly_fn(up)
    if up in PS_PARAMS:
        return _lonlat_to_ps_fn(up)
    if up in CEA_PARAMS:
        return _lonlat_to_cea_fn(up)
    if up in AEQD_PARAMS:
        return _lonlat_to_aeqd_fn(up)
    if up in ORTHO_PARAMS:
        return _lonlat_to_ortho_fn(up)
    if up in NSPER_PARAMS:
        return _lonlat_to_nsper_fn(up)
    if up in STEREG_PARAMS:
        return _lonlat_to_stereg_fn(up)
    if up in OMERC_PARAMS:
        return _lonlat_to_omerc_fn(up)
    if up in EQC_PARAMS:
        return _lonlat_to_eqc_fn(up)
    if up in EQDC_PARAMS:
        return _lonlat_to_eqdc_fn(up)
    if up in LAEA_PARAMS:
        return _lonlat_to_laea_fn(up)
    if up in LCC_PARAMS:
        return _lonlat_to_lcc_fn(up)
    if up in AEA_PARAMS:
        return _lonlat_to_aea_fn(up)
    if up in SINU_PARAMS:
        return _lonlat_to_sinu_fn(up)
    if up in MOLL_PARAMS:
        return _MollForward(up)
    if up in ECK4_PARAMS:
        return _Eck4Forward(up)
    if up in NATEARTH_PARAMS:
        return _lonlat_to_natearth_fn(up)
    if up in GNOM_PARAMS:
        return _lonlat_to_gnom_fn(up)
    if up in MILL_PARAMS:
        return _lonlat_to_mill_fn(up)
    if up in VANDG_PARAMS:
        return _lonlat_to_vandg_fn(up)
    if up in ROBIN_PARAMS:
        return _lonlat_to_robin_fn(up)
    if up in HAMMER_PARAMS:
        return _lonlat_to_hammer_fn(up)
    if up in IGH_PARAMS:
        return _IghForward(up)
    if up in WINTRI_PARAMS:
        return _lonlat_to_wintri_fn(up)
    if up == "EPSG:27700":
        return _lonlat_to_osgb_fn()
    if up in TM_PARAMS:
        return _lonlat_to_tm_fn(up)
    utm = parse_utm_crs(up)
    if utm:
        return _lonlat_to_utm_fn(*utm)
    return None


def get_transform(src_crs, dst_crs) -> ColumnTransform:
    """Transform from ``src_crs`` coords into ``dst_crs`` coords.

    Each CRS may be an authority string (``EPSG:32633``), a PROJ.4
    parameter string (``+proj=tmerc +lat_0=…``), or a CF grid-mapping
    attribute mapping (``{'grid_mapping_name': …}``) — the latter two
    resolve through :mod:`.crsparse` onto the parameterized
    closed-form families (reference parity:
    `pyproj.CRS.from_cf` / arbitrary-CRS transforms at
    `xcube/core/gridmapping/cfconv.py:211`, `transform.py`).

    Prefers the pure-Column registry; falls back to a pyproj-backed
    pandas_udf when the package is available (it is not baked into this
    container — the fallback raises with a clear message otherwise)."""
    from xcube_spark.operators.resampling.crsparse import resolve_crs

    src_crs = resolve_crs(src_crs)
    dst_crs = resolve_crs(dst_crs)
    key = (src_crs, dst_crs)
    if key in COLUMN_TRANSFORMS:
        return COLUMN_TRANSFORMS[key]
    # any pair that closed-form-resolves through lon/lat chains via a
    # 4326 hop (UTM zones and polar stereographics have no per-CRS
    # registry entries — they parse/lookup here)
    to_ll = _to_lonlat_fn(src_crs)
    from_ll = _from_lonlat_fn(dst_crs)
    if to_ll is not None and from_ll is not None:
        if dst_crs.upper() == "EPSG:4326":
            return to_ll
        if src_crs.upper() == "EPSG:4326":
            return from_ll

        if hasattr(to_ll, "apply_df") or hasattr(from_ll, "apply_df"):
            return _ChainedTransform(to_ll, from_ll)

        def chain(x: Column, y: Column) -> tuple[Column, Column]:
            return from_ll(*to_ll(x, y))

        return chain
    try:  # pragma: no cover - pyproj absent in the build container
        import numpy as np  # noqa: F401
        import pandas as pd
        import pyproj
        from pyspark.sql.functions import pandas_udf

        tf = pyproj.Transformer.from_crs(src_crs, dst_crs, always_xy=True)

        # NOTE: no parameter type hints — this module uses PEP 563
        # (`from __future__ import annotations`), which stringifies
        # them and breaks pandas_udf's eval-type inference (caught by
        # the stub-transformer seam test); hint-less defaults to the
        # scalar eval type, which is what a Series->DataFrame struct
        # UDF needs.
        @pandas_udf("struct<x: double, y: double>")
        def _proj(x, y):
            xx, yy = tf.transform(x.to_numpy(), y.to_numpy())
            return pd.DataFrame({"x": xx, "y": yy})

        def transform(cx: Column, cy: Column) -> tuple[Column, Column]:
            s = _proj(cx, cy)
            return s.getField("x"), s.getField("y")

        return transform
    except ImportError as exc:
        raise NotImplementedError(
            f"no Column transform registered for {src_crs} -> {dst_crs} "
            "and pyproj is not installed; register one in "
            "COLUMN_TRANSFORMS or install pyproj"
        ) from exc


def reproject_dataset(
    cube: DataFrame,
    source: CubeGrid,
    target: CubeGrid,
    var_names: Iterable[str] | None = None,
) -> DataFrame:
    """Gather-join reprojection of ``cube`` (on grid ``source``, CRS
    ``source.crs``) onto ``target`` (CRS ``target.crs``), nearest mode
    (the reference's default gather, reproject.py:360-430)."""
    from xcube_spark.cube.grid import var_names as cube_vars

    spark: SparkSession = cube.sparkSession
    vars_ = list(var_names) if var_names is not None else cube_vars(cube)
    transform = get_transform(target.crs, source.crs)

    plane = target.width * target.height
    tgt = spark.range(target.size).select(
        (F.col("id") / plane).cast("int").alias("t_i"),
        ((F.col("id") % plane) / target.width).cast("int").alias("y_i"),
        (F.col("id") % target.width).cast("int").alias("x_i"),
    )
    tx = target.x_center_expr(F.col("x_i"))
    ty = target.y_center_expr(F.col("y_i"))
    if hasattr(transform, "sql_fn"):
        # string-built transform (UTM family): the whole series tree
        # arrives as one parsed SQL expression per output instead of
        # hundreds of Column-API py4j round trips per plan build; the
        # parsed tree is the identical expression (r12)
        sx_sql, sy_sql = transform.sql_fn(
            target.x_center_sql("x_i"), target.y_center_sql("y_i"))
        tgt = tgt.withColumns(
            {"__tsx": F.expr(sx_sql), "__tsy": F.expr(sy_sql)})
    else:
        # staged transforms (datum-hop CRSs) materialize intermediates
        # as aliased columns — one Column tree would be exponentially
        # large
        tgt = apply_transform_df(tgt, transform, tx, ty, "__tsx", "__tsy")
    tgt = tgt.select(
        "t_i", "y_i", "x_i",
        target.time_center_expr(F.col("t_i")).alias("time"),
        ty.alias("y"),
        tx.alias("x"),
        source.x_index_expr(F.col("__tsx")).alias("__sx"),
        source.y_index_expr(F.col("__tsy")).alias("__sy"),
    )

    src_cells = cube.select(
        F.col("t_i").alias("__st"),
        F.col("y_i").alias("__ssy"),
        F.col("x_i").alias("__ssx"),
        *vars_,
    )
    if hasattr(transform, "apply_df"):
        # staged transforms (datum hops, fixed-count Newton solves)
        # are deep alias chains; Dynamic Partition Pruning's join-key
        # lineage walk (PartitionPruning.findExpressionAndTrackLineageDown)
        # substitutes aliases transitively through every Project and
        # goes exponential on them (the somerc chain hung the
        # optimizer for minutes and OOMed the driver).  A persist
        # barrier turns the target table into an InMemoryRelation
        # LEAF: the walk stops there, DPP stays enabled for the
        # partitioned scans it exists for, and — unlike
        # localCheckpoint — lineage is kept, so lost cache blocks
        # recompute instead of failing the job.  The table is one
        # bounded grid (output raster size), MEMORY_AND_DISK.
        tgt = tgt.persist()
    joined = tgt.join(
        src_cells,
        on=[
            F.col("t_i") == F.col("__st"),
            F.col("__sy") == F.col("__ssy"),
            F.col("__sx") == F.col("__ssx"),
        ],
        how="left",
    )
    return joined.select("t_i", "y_i", "x_i", "time", "y", "x", *vars_)
