"""CRS reprojection — xcube/core/resampling/reproject.py:27-507.

``reproject_dataset``: resample a regular-grid cube in CRS A onto a
regular grid in CRS B.  The reference transforms, per target block, the
target cell centers into the source CRS with pyproj, then gathers the
nearest source pixel (reproject.py:360-430).

Spark mapping: the same **target-driven gather join** as affine:

1. synthesize the target cell table (narrow ``spark.range`` projection);
2. move the target cell centers into the source CRS through a 4326 hop
   of closed-form transforms (pyproj is not installed here; when it is,
   CRS pairs without a closed form fall back to a pyproj pandas_udf);
3. compute source indices from the moved coordinates and left-join the
   source cells on them.

Each CRS family is one row of ``_FAMILIES``: a matcher, an inverse
(projected -> lon/lat) and a forward (lon/lat -> projected).

- The inverse is written ONCE, as an ordered list of stages
  ``{name: SQL text}`` written with the ``Q`` SQL-text functions (a stage may
  use the ``x``/``y`` inputs and the names of earlier stages).  Spark
  runs each stage as one ``withColumns({name: F.expr(text)})``; the
  DuckDB oracles render the same text through ``inverse_sql`` (one
  stage, inlined) or ``inverse_sql_ctes`` (a CTE per stage).  The
  literals are written with an exponent, which both engines read as
  DOUBLE; DuckDB lacks sinh/cosh/asinh/atanh and ``signum``, so
  ``_duckdb`` rewrites those as exp/ln forms and ``sign``.
  Multi-stage inverses (datum hops, fixed-count iterations) keep the
  intermediates as columns, so the plan stays linear in the stage
  count.
- The forward is Column code with no SQL twin.

Because engine and oracle now share the inverse text, an oracle match
no longer checks the inverse arithmetic.  The independent checks are
``tests/test_crs_control_points.py`` (published control points) and the
forward-then-inverse round-trip tests, whose forward side is separate
code.

Scale: the transform is applied to the *target* table (bounded by the
requested output size, usually << source).
"""

from __future__ import annotations

import math
import re
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid, sql_double

#: (x, y) -> (x', y') as Column expressions
ColumnTransform = Callable[[Column, Column], tuple[Column, Column]]


# ---- SQL text for the inverses -----------------------------------------
#
# ``_Sql`` composes like a pyspark Column and prints fully parenthesised
# SQL, so an inverse written with ``Q.sin``/``Q.lit``/operators parses
# (``F.expr``) to the expression tree the same Column code would build.
# That includes pyspark's reflected operators: ``2.0 * c`` and
# ``2.0 + c`` keep the column on the left, ``2.0 - c``/``2.0 / c`` do
# not.  Floats print with an exponent (``grid.sql_double``), which
# Spark and DuckDB both read as DOUBLE; ints print bare (INT).

def _binop(sym: str, swap: bool = False):
    def op(self, other) -> "_Sql":
        a, b = (Q.lit(other), self) if swap else (self, Q.lit(other))
        return _Sql(f"({a} {sym} {b})")
    return op


class _Sql:
    __slots__ = ("t",)
    __hash__ = None

    def __init__(self, t: str):
        self.t = t

    def __str__(self) -> str:
        return self.t

    __add__ = __radd__ = _binop("+")
    __mul__ = __rmul__ = _binop("*")
    __sub__, __rsub__ = _binop("-"), _binop("-", swap=True)
    __truediv__, __rtruediv__ = _binop("/"), _binop("/", swap=True)
    __lt__, __le__, __gt__, __ge__, __eq__ = map(
        _binop, ("<", "<=", ">", ">=", "="))
    __and__, __or__ = _binop("AND"), _binop("OR")

    def __neg__(self) -> "_Sql":
        return _Sql(f"(- {self})")

    def cast(self, t: str) -> "_Sql":
        return _Sql(f"CAST({self} AS {t.upper()})")


class _Case(_Sql):
    """``Q.when(...).when(...).otherwise(...)`` -> CASE WHEN ... END."""
    __slots__ = ("arms", "default")

    def __init__(self, arms: tuple, default=None):
        self.arms, self.default = arms, default
        body = " ".join(f"WHEN {c} THEN {v}" for c, v in arms)
        tail = "" if default is None else f" ELSE {default}"
        super().__init__(f"CASE {body}{tail} END")

    def when(self, cond, value) -> "_Case":
        return _Case(self.arms + ((cond, Q.lit(value)),))

    def otherwise(self, value) -> "_Sql":
        return _Case(self.arms, Q.lit(value))


def _fn(name: str) -> Callable[..., _Sql]:
    return lambda *args: _Sql(f"{name}({', '.join(map(str, map(Q.lit, args)))})")


class Q:
    """The ``F`` subset the inverses use, producing ``_Sql`` text."""

    @staticmethod
    def lit(v) -> _Sql:
        if isinstance(v, _Sql):
            return v
        if isinstance(v, bool):
            return _Sql("true" if v else "false")
        if isinstance(v, int):
            return _Sql(str(v) if v >= 0 else f"({v})")
        if math.isnan(v):
            return _Sql("CAST('NaN' AS DOUBLE)")
        if math.isinf(v):
            return _Sql(f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)")
        r = sql_double(v)
        return _Sql(f"({r})" if r.startswith("-") else r)

    sin, cos, tan = _fn("sin"), _fn("cos"), _fn("tan")
    asin, acos, atan = _fn("asin"), _fn("acos"), _fn("atan")
    atan2, sinh, cosh = _fn("atan2"), _fn("sinh"), _fn("cosh")
    # Spark prints a function under the alias the text used: ``power``
    # and ``signum`` print as the ``F.pow``/``F.signum`` expressions do
    sqrt, exp, log, pow = _fn("sqrt"), _fn("exp"), _fn("ln"), _fn("power")
    degrees, radians = _fn("degrees"), _fn("radians")
    abs, signum = _fn("abs"), _fn("signum")
    greatest, least = _fn("greatest"), _fn("least")

    @staticmethod
    def when(cond, value) -> _Case:
        return _Case(((cond, Q.lit(value)),))


def _cols(names: str) -> tuple[_Sql, ...]:
    """Stage names as references: ``_cols("__a __b")``."""
    return tuple(map(_Sql, names.split()))


def _out(lon: _Sql, lat: _Sql) -> list[dict]:
    """A single-stage inverse: one stage holding the two outputs."""
    return [{"__out_x": lon, "__out_y": lat}]


#: DuckDB spellings of the functions it lacks: the four hyperbolic
#: ones as exp/ln forms, and Spark's ``signum`` (Spark also reads
#: ``sign``, but prints it under that alias in plans)
_DUCKDB_FUNCS = {
    "sinh": "((exp({0}) - exp(-({0}))) / 2.0E0)",
    "cosh": "((exp({0}) + exp(-({0}))) / 2.0E0)",
    "asinh": "ln({0} + sqrt({0} * {0} + 1.0E0))",
    "atanh": "(0.5E0 * ln((1.0E0 + {0}) / (1.0E0 - {0})))",
    "signum": "sign({0})",
}
_DUCKDB_FUNCS_RE = re.compile(r"\b(sinh|cosh|asinh|atanh|signum)\(")


def _duckdb(text) -> str:
    """The DuckDB dialect of inverse text: only the functions of
    ``_DUCKDB_FUNCS`` differ."""
    text = str(text)
    m = _DUCKDB_FUNCS_RE.search(text)
    if m is None:
        return text
    depth, i = 1, m.end()
    while depth:
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        i += 1
    arg = "(" + _duckdb(text[m.end():i - 1]) + ")"
    return (text[:m.start()]
            + _DUCKDB_FUNCS[m.group(1)].format(arg)
            + _duckdb(text[i:]))


def _as_col(e) -> Column:
    return F.expr(e) if isinstance(e, str) else e


class SqlInverse:
    """An inverse transform as an ordered list of stages
    ``{name: SQL text}``; ``build(x, y)`` makes the list from the input
    texts.  The last stage (or an earlier one) defines ``__out_x`` /
    ``__out_y`` (lon/lat degrees); a name may be redefined by a later
    stage (one Newton iteration per stage)."""

    def __init__(self, build: Callable[[_Sql, _Sql], list[dict]]):
        self.build = build

    @property
    def staged(self) -> bool:
        return len(self.build(_Sql("__in_x"), _Sql("__in_y"))) > 1

    def apply_df(self, df, x, y, out_x: str, out_y: str):
        """Spark: one ``withColumns`` per stage.  A single-stage
        inverse over SQL-text inputs is inlined into one projection."""
        if isinstance(x, str) and isinstance(y, str) and not self.staged:
            (stage,) = self.build(_Sql(f"({x})"), _Sql(f"({y})"))
            return df.withColumns({out_x: F.expr(str(stage["__out_x"])),
                                   out_y: F.expr(str(stage["__out_y"]))})
        names = ["__in_x", "__in_y"]
        df = df.withColumns({"__in_x": _as_col(x), "__in_y": _as_col(y)})
        for stage in self.build(_Sql("__in_x"), _Sql("__in_y")):
            df = df.withColumns({n: F.expr(str(t)) for n, t in stage.items()})
            names += list(stage)
        df = df.withColumns({out_x: F.col("__out_x"),
                             out_y: F.col("__out_y")})
        return df.drop(*names)


class StagedTransform:
    """A forward CRS transform evaluated in NAMED stages.

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

    staged = True

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


class _Chain:
    """Source CRS -> lon/lat -> target CRS, the two legs applied one
    after the other (a 4326 hop)."""

    def __init__(self, to_ll, from_ll):
        self.to_ll, self.from_ll = to_ll, from_ll
        self.staged = _staged(to_ll) or _staged(from_ll)

    def apply_df(self, df, x, y, out_x: str, out_y: str):
        df = apply_transform_df(df, self.to_ll, x, y, "__mid_x", "__mid_y")
        df = apply_transform_df(df, self.from_ll, F.col("__mid_x"),
                                F.col("__mid_y"), out_x, out_y)
        return df.drop("__mid_x", "__mid_y")


def _staged(transform) -> bool:
    """Whether ``transform`` materializes intermediate columns (so a
    gather join over its output needs the ``persist`` barrier)."""
    return getattr(transform, "staged", False)


def apply_transform_df(df, transform, x_expr, y_expr,
                       out_x: str, out_y: str):
    """Apply a transform onto a DataFrame.  ``x_expr``/``y_expr`` are
    Columns or Spark-SQL text; text lets a single-stage inverse inline
    its input."""
    if not isinstance(transform, (SqlInverse, _Chain)):
        x_expr, y_expr = _as_col(x_expr), _as_col(y_expr)
    if hasattr(transform, "apply_df"):
        return transform.apply_df(df, x_expr, y_expr, out_x, out_y)
    sx, sy = transform(x_expr, y_expr)
    return df.withColumns({out_x: sx, out_y: sy})


# ---- Web Mercator (EPSG:3857) -------------------------------------------

_R = 6378137.0  # WGS84 spherical radius used by EPSG:3857


def _lonlat_to_mercator(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:4326 -> EPSG:3857, closed-form (no pyproj needed)."""
    mx = x * F.lit(math.pi * _R / 180.0)
    lat = F.when(y > 89.9999, 89.9999).when(y < -89.9999, -89.9999).otherwise(y)
    my = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)) * F.lit(_R)
    return mx, my


def _mercator_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """EPSG:3857 -> EPSG:4326, closed-form inverse."""
    lon = x / Q.lit(math.pi * _R / 180.0)
    lat = Q.degrees(Q.atan(Q.sinh(y / Q.lit(_R))))
    return _out(lon, lat)


def _identity(x: Column, y: Column) -> tuple[Column, Column]:
    return x, y


# ---- transverse Mercator / UTM (closed-form Krueger series) -----------
#
# The reference reprojects UTM scenes — the most common satellite
# product CRS — through pyproj (core/gridmapping/transform.py).  pyproj
# is not in this container, so the ellipsoidal transverse-Mercator
# forward/inverse is implemented directly from the published
# Krueger/Karney series (public math; 3rd order in n — truncation error
# ~1e-4 m over the UTM domain, far below any satellite pixel).  Column
# forward, one-stage SQL-text inverse: the whole transform stays inside
# whole-stage codegen, no UDF, no library.

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


def _krueger_inverse(x: _Sql, y: _Sql, k: float, fe: float, y0: float,
                     lon0: float, beta: tuple, delta: tuple) -> list[dict]:
    """Transverse-Mercator inverse (Krueger series; UTM, national TM
    grids): ``k`` = k0 * rectifying radius, ``y0`` the northing of the
    equator on the central meridian ``lon0``."""
    xi = (y - Q.lit(y0)) / Q.lit(k)
    eta = (x - Q.lit(fe)) / Q.lit(k)
    xip, etap = xi, eta
    for j, b in enumerate(beta, start=1):
        xip = xip - Q.lit(b) * Q.sin(Q.lit(2.0 * j) * xi) \
            * Q.cosh(Q.lit(2.0 * j) * eta)
        etap = etap - Q.lit(b) * Q.cos(Q.lit(2.0 * j) * xi) \
            * Q.sinh(Q.lit(2.0 * j) * eta)
    chi = Q.asin(Q.sin(xip) / Q.cosh(etap))
    phi = chi
    for j, d in enumerate(delta, start=1):
        phi = phi + Q.lit(d) * Q.sin(Q.lit(2.0 * j) * chi)
    lam = Q.atan2(Q.sinh(etap), Q.cos(xip))
    return _out(Q.lit(lon0) + Q.degrees(lam), Q.degrees(phi))


def _utm_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    zone, south = parse_utm_crs(crs)
    return _krueger_inverse(x, y, _K0 * _A_RECT, 500_000.0,
                            10_000_000.0 if south else 0.0,
                            _utm_lon0(zone), _BETA, _DELTA)


# ---- OSGB National Grid (EPSG:27700) ----------------------------------
#
# The British national CRS the reference reaches through pyproj: a
# transverse Mercator with false origin on the AIRY 1830 ellipsoid in
# the OSGB36 datum.  Two public-math pieces compose it, both staged
# (one column per intermediate):
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


def _helmert(x, y, z, params: tuple, f=F) -> tuple:
    """Position-vector Helmert; ``f`` is ``F`` (Columns) or ``Q``
    (inverse SQL text)."""
    tx, ty, tz, rx, ry, rz, s = params
    m = 1.0 + s
    return (
        f.lit(tx) + f.lit(m) * x - f.lit(rz) * y + f.lit(ry) * z,
        f.lit(ty) + f.lit(rz) * x + f.lit(m) * y - f.lit(rx) * z,
        f.lit(tz) - f.lit(ry) * x + f.lit(rx) * y + f.lit(m) * z,
    )


_OSGB_HELM_INV = tuple(-v for v in _OSGB_HELM)


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


def _osgb_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """EPSG:27700 -> lon/lat: TM-inverse series on Airy, then the
    OSGB36 -> WGS84 hop (inverse Helmert, Bowring)."""
    k = _OSGB_K0 * _AIRY_AR
    xi, eta, xip, etap, chi, phi_a, lam_a = _cols(
        "__xi __eta __xip __etap __chi __phi_a __lam_a")
    s_xip, s_etap, s_phi = xi, eta, chi
    for j, b in enumerate(_AIRY_BETA, start=1):
        s_xip = s_xip - Q.lit(b) * Q.sin(Q.lit(2.0 * j) * xi) \
            * Q.cosh(Q.lit(2.0 * j) * eta)
        s_etap = s_etap - Q.lit(b) * Q.cos(Q.lit(2.0 * j) * xi) \
            * Q.sinh(Q.lit(2.0 * j) * eta)
    for j, d in enumerate(_AIRY_DELTA, start=1):
        s_phi = s_phi + Q.lit(d) * Q.sin(Q.lit(2.0 * j) * chi)
    return [
        {"__xi": (y - Q.lit(_OSGB_Y0)) / Q.lit(k),
         "__eta": (x - Q.lit(_OSGB_FE)) / Q.lit(k)},
        {"__xip": s_xip, "__etap": s_etap},
        {"__chi": Q.asin(Q.sin(xip) / Q.cosh(etap))},
        {"__phi_a": s_phi,
         "__lam_a": Q.lit(math.radians(_OSGB_LON0))
            + Q.atan2(Q.sinh(etap), Q.cos(xip))},
    ] + _to_wgs84_stages(lam_a, phi_a, _AIRY_A, _AIRY_E ** 2,
                         _OSGB_HELM_INV, "__X __Y __Z")


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


def _tm_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _tm_consts(crs)
    return _krueger_inverse(x, y, c["k"], c["fe"], c["y0"], c["lon0"],
                            c["beta"], c["delta"])


# ---- polar stereographic (EPSG:3413 / EPSG:3031) ----------------------
#
# The polar satellite CRSs (NSIDC Sea Ice stereographics) — ellipsoidal
# polar stereographic from Snyder 1987 (public math, eqs. 21-33..41 and
# the 3-5 chi->phi series).  Same design as UTM above.

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
        # explicit sqrt(u*u + v*v), not hypot
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


def _geos_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _geos_consts(crs)
    xn = x / Q.lit(c["a"] * c["radius_g_1"])
    yn = y / Q.lit(c["a"] * c["radius_g_1"])
    if c["sweep_x"]:
        vz = Q.tan(yn)
        vy = Q.tan(xn) * Q.sqrt(Q.lit(1.0) + vz * vz)
    else:
        vy = Q.tan(xn)
        vz = Q.tan(yn) * Q.sqrt(Q.lit(1.0) + vy * vy)
    # view line p = (radius_g,0,0) + k*(-1, vy, vz); intersect the
    # normalized ellipsoid: quadratic in k (off-disk -> sqrt(neg)
    # -> NaN, the documented not-visible signal)
    vzp = vz / Q.lit(c["radius_p"])
    qa = vy * vy + vzp * vzp + Q.lit(1.0)
    qb = Q.lit(2.0 * c["radius_g"]) * Q.lit(-1.0)
    k = (-qb - Q.sqrt(qb * qb - 4.0 * qa * Q.lit(c["C"]))) / (2.0 * qa)
    px = Q.lit(c["radius_g"]) - k
    py = vy * k
    pz = vz * k
    lam = Q.atan2(py, px)
    phi = Q.atan(pz * Q.cos(lam) / px)
    phi = Q.atan(Q.lit(c["radius_p_inv2"]) * Q.tan(phi))
    return _out(Q.lit(c["lon0"]) + Q.degrees(lam), Q.degrees(phi))


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


def _rotpole_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Rotated lon/lat (deg) -> true lon/lat (deg): the transpose
    rotation of :func:`_lonlat_to_rotpole_fn`."""
    c = _rotpole_consts(crs)
    lam0 = Q.radians(x - Q.lit(c["phi0"]) + Q.lit(180.0))
    phi = Q.radians(y)
    cphi = Q.cos(phi)
    x2 = cphi * Q.cos(lam0)
    y2 = cphi * Q.sin(lam0)
    z2 = Q.sin(phi)
    lat = Q.degrees(Q.asin(
        z2 * Q.lit(c["sp"]) - x2 * Q.lit(c["cp"])))
    x1 = x2 * Q.lit(c["sp"]) + z2 * Q.lit(c["cp"])
    lon = Q.lit(c["lambda_p"]) + Q.degrees(Q.atan2(y2, x1))
    lon = (Q.when(lon < -180.0, lon + Q.lit(360.0))
           .when(lon > 180.0, lon - Q.lit(360.0))
           .otherwise(lon))
    return _out(lon, lat)


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


def _sterea_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """E/N -> lon/lat (EPSG 9809 inverse): stereographic un-projection
    on the conformal sphere, then the fixed-count iterative
    conformal->geodetic latitude solve, one stage per iteration."""
    c = _sterea_consts(crs)
    e, es, n = c["e"], c["es"], c["n"]
    ep, np_, i, j, chi, psi, phi = _cols("__ep __np __i __j __chi __psi __phi")
    lam = j + Q.lit(2.0) * i + Q.lit(c["lam0"])
    schi, sphi = Q.sin(chi), Q.sin(phi)
    psii = Q.log(
        Q.tan(phi / Q.lit(2.0) + Q.lit(math.pi / 4.0))
        * Q.pow((Q.lit(1.0) - Q.lit(e) * sphi)
                / (Q.lit(1.0) + Q.lit(e) * sphi),
                Q.lit(e / 2.0)))
    step = phi - (psii - psi) * Q.cos(phi) \
        * (Q.lit(1.0) - Q.lit(es) * sphi * sphi) / Q.lit(1.0 - es)
    return [
        {"__ep": x - Q.lit(c["fe"]), "__np": y - Q.lit(c["fn"])},
        {"__i": Q.atan2(ep, Q.lit(c["h"]) + np_)},
        {"__j": Q.atan2(ep, Q.lit(c["g"]) - np_) - i},
        {"__chi": Q.lit(c["chi0"]) + Q.lit(2.0) * Q.atan(
            (np_ - ep * Q.tan(j / Q.lit(2.0))) / Q.lit(c["rk2"])),
         "__out_x": Q.degrees((lam - Q.lit(c["lam0"])) / Q.lit(n))
            + Q.lit(c["lon0"])},
        {"__psi": Q.log((Q.lit(1.0) + schi)
                        / (Q.lit(c["c"]) * (Q.lit(1.0) - schi)))
            / Q.lit(2.0 * n)},
        {"__phi": Q.lit(2.0) * Q.atan(Q.exp(psi)) - Q.lit(math.pi / 2.0)},
        *[{"__phi": step}] * _STEREA_ITERS,
        {"__out_y": Q.degrees(phi)},
    ]


def _merc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)
    lam = (x - Q.lit(fe)) / Q.lit(ak)
    t = Q.exp((Q.lit(fn) - y) / Q.lit(ak))  # Snyder 7-10
    chi = Q.lit(math.pi / 2.0) - 2 * Q.atan(t)
    phi = chi
    for j, c in enumerate(_PS_SERIES, start=1):
        phi = phi + Q.lit(c) * Q.sin(Q.lit(2.0 * j) * chi)
    return _out(Q.lit(lon0) + Q.degrees(lam), Q.degrees(phi))


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


def _ps_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]
    if c["fe"]:
        x = x - Q.lit(c["fe"])
    if c["fn"]:
        y = y - Q.lit(c["fn"])
    rho = Q.sqrt(x * x + y * y)
    t = rho * Q.lit(c["Kinv"])
    chi = Q.lit(math.pi / 2.0) - 2 * Q.atan(t)
    phi = chi
    for j, cj in enumerate(_PS_SERIES, start=1):
        phi = phi + Q.lit(cj) * Q.sin(Q.lit(2.0 * j) * chi)
    lam = Q.atan2(x, y if south else y * Q.lit(-1.0))
    lat = Q.degrees(phi)
    return _out(
        Q.lit(lon0) + Q.degrees(lam),
        lat * Q.lit(-1.0) if south else lat,
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


def _azi_inverse(x: _Sql, y: _Sql, c: dict, cang) -> list[dict]:
    """Spherical azimuthal inverse (Snyder 20-14/20-15) shared by
    aeqd, ortho, gnom, nsper and stereg; ``cang(rho)`` is the family's
    angular distance from the center."""
    xe = x - Q.lit(c["fe"])
    yn = y - Q.lit(c["fn"])
    rho = Q.sqrt(xe * xe + yn * yn)
    cang = cang(rho)
    phi = Q.when(rho == 0.0, Q.asin(Q.lit(c["sp0"]))).otherwise(
        Q.asin(Q.cos(cang) * Q.lit(c["sp0"])
               + yn * Q.sin(cang) * Q.lit(c["cp0"]) / rho))
    lam = Q.when(rho == 0.0, Q.lit(0.0)).otherwise(
        Q.atan2(xe * Q.sin(cang),
                rho * Q.lit(c["cp0"]) * Q.cos(cang)
                - yn * Q.lit(c["sp0"]) * Q.sin(cang)))
    return _out(Q.lit(c["lon0"]) + Q.degrees(lam), Q.degrees(phi))


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


def _aeqd_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _azi_consts(AEQD_PARAMS, crs)
    return _azi_inverse(x, y, c, lambda rho: rho / Q.lit(c["r"]))


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


def _ortho_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _azi_consts(ORTHO_PARAMS, crs)
    # off-disk: asin(>1) -> NaN, the documented not-visible signal
    return _azi_inverse(x, y, c, lambda rho: Q.asin(rho / Q.lit(c["r"])))


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


def _gnom_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _azi_consts(GNOM_PARAMS, crs)
    # c = atan(rho/R), 22-16
    return _azi_inverse(x, y, c, lambda rho: Q.atan(rho / Q.lit(c["r"])))


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


def _omerc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Hotine E/N -> lon/lat (EPSG 9815 reverse, staged)."""
    c = _omerc_consts(crs)
    b, big_a = c["b"], c["big_a"]
    v, u, q, bu, s, tv, uu, chi = _cols("__v __u __q __bu __s __tv __uu __chi")
    t = Q.pow(
        Q.lit(c["h"]) / Q.sqrt((Q.lit(1.0) + uu) / (Q.lit(1.0) - uu)),
        Q.lit(1.0 / b))
    phi = chi
    for j, cf in enumerate(c["series"], start=1):
        phi = phi + Q.lit(cf) * Q.sin(Q.lit(2.0 * j) * chi)
    lam = Q.lit(c["lam0"]) - Q.atan2(
        s * Q.lit(c["cg0"]) - Q.sin(bu) * Q.lit(c["sg0"]),
        Q.cos(bu)) / Q.lit(b)
    return [
        {"__v": ((x - Q.lit(c["ec"])) * Q.lit(c["cg"])
                 - (y - Q.lit(c["nc"])) * Q.lit(c["sg"])),
         "__u": ((y - Q.lit(c["nc"])) * Q.lit(c["cg"])
                 + (x - Q.lit(c["ec"])) * Q.lit(c["sg"])
                 + Q.lit(c["uoff"]))},
        {"__q": Q.exp(Q.lit(-b) * v / Q.lit(big_a)),
         "__bu": Q.lit(b) * u / Q.lit(big_a)},
        {"__s": (q - Q.lit(1.0) / q) / Q.lit(2.0),
         "__tv": (q + Q.lit(1.0) / q) / Q.lit(2.0)},
        {"__uu": (Q.sin(bu) * Q.lit(c["cg0"])
                  + s * Q.lit(c["sg0"])) / tv},
        {"__chi": Q.lit(math.pi / 2.0) - Q.lit(2.0) * Q.atan(t)},
        {"__out_x": Q.degrees(lam), "__out_y": Q.degrees(phi)},
    ]


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


def _nsper_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _nsper_consts(crs)
    p, r = c["p"], c["r"]

    def cang(rho):
        # Snyder 23-19/20: off-disk -> sqrt(negative) -> NaN
        root = Q.sqrt(Q.lit(1.0) - rho * rho * Q.lit(
            (p + 1.0) / (r * r * (p - 1.0))))
        return Q.asin((Q.lit(p) - root)
                      / (Q.lit(r * (p - 1.0)) / rho
                         + rho / Q.lit(r * (p - 1.0))))

    return _azi_inverse(x, y, c, cang)


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


def _stereg_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _stereg_azi_consts(crs)
    k0 = STEREG_PARAMS[crs.upper()][1]
    return _azi_inverse(x, y, c, lambda rho: Q.lit(2.0) * Q.atan(
        rho / Q.lit(2.0 * c["r"] * k0)))


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


def _eqc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _eqc_consts(crs)
    lon = (Q.lit(c["lon0"])
           + Q.degrees((x - Q.lit(c["fe"])) / Q.lit(c["rc"])))
    if c["sphere"]:
        return _out(lon, Q.degrees((y - Q.lit(c["fn"])) / Q.lit(c["ry"])))
    mu = (y - Q.lit(c["fn"])) / Q.lit(c["ary"])
    chi = mu
    for j, bj in enumerate(c["beta"], start=1):
        chi = chi - Q.lit(bj) * Q.sin(Q.lit(2.0 * j) * mu)
    phi = chi
    for j, dj in enumerate(c["delta"], start=1):
        phi = phi + Q.lit(dj) * Q.sin(Q.lit(2.0 * j) * chi)
    return _out(lon, Q.degrees(phi))


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


def _eqdc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _eqdc_consts(crs)
    sgn = 1.0 if c["n"] >= 0.0 else -1.0
    xe = x - Q.lit(c["fe"])
    yr = Q.lit(c["rho0"]) - (y - Q.lit(c["fn"]))
    rho = Q.lit(sgn) * Q.sqrt(xe * xe + yr * yr)
    th = Q.atan2(Q.lit(sgn) * xe, Q.lit(sgn) * yr)
    lam = th / Q.lit(c["n"])
    if c["sphere"]:
        phi = (Q.lit(c["ag"]) - rho) / Q.lit(c["a"])
    else:
        mu = (Q.lit(c["ag"]) - rho) / Q.lit(c["ary"])
        chi = mu
        for j, bj in enumerate(c["beta"], start=1):
            chi = chi - Q.lit(bj) * Q.sin(Q.lit(2.0 * j) * mu)
        phi = chi
        for j, dj in enumerate(c["delta"], start=1):
            phi = phi + Q.lit(dj) * Q.sin(Q.lit(2.0 * j) * chi)
    return _out(Q.lit(c["lon0"]) + Q.degrees(lam), Q.degrees(phi))


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


def _to_wgs84_stages(lam: _Sql, phi: _Sql, a_l: float, es_l: float,
                     helm: tuple, xyz: str) -> list[dict]:
    """Local-datum geodetic radians -> WGS84 degrees
    (``__out_x``/``__out_y``) as FINE stages: geodetic -> XYZ (named
    ``xyz``), the Helmert ``helm``, Bowring back to geodetic."""
    sp, cp, nu = _cols("__sp __cp __nu")
    xw, yw, zw, p, th = _cols("__Xw __Yw __Zw __p __th")
    return [
        {"__sp": Q.sin(phi), "__cp": Q.cos(phi)},
        {"__nu": Q.lit(a_l) / Q.sqrt(
            Q.lit(1.0) - Q.lit(es_l) * sp * sp)},
        dict(zip(xyz.split(), (nu * cp * Q.cos(lam), nu * cp * Q.sin(lam),
                               nu * Q.lit(1.0 - es_l) * sp))),
        dict(zip(("__Xw", "__Yw", "__Zw"),
                 _helmert(*_cols(xyz), helm, Q))),
        {"__p": Q.sqrt(xw * xw + yw * yw)},
        {"__th": Q.atan2(zw * Q.lit(_WGS_A), p * Q.lit(_WGS_B))},
        {"__out_x": Q.degrees(Q.atan2(yw, xw)),
         "__out_y": Q.degrees(Q.atan2(
             zw + Q.lit(_WGS_EP2 * _WGS_B) * Q.pow(Q.sin(th), Q.lit(3.0)),
             p - Q.lit(_WGS_E2 * _WGS_A) * Q.pow(Q.cos(th), Q.lit(3.0))))},
    ]


def _datum_hop_inv_stages(towgs84: tuple | None, a_l: float,
                          es_l: float) -> list[dict]:
    """Local-datum geodetic radians (``__lam``/``__phi``) -> WGS84
    degrees (``__out_x``/``__out_y``); no hop without a towgs84."""
    lam, phi = _cols("__lam __phi")
    if towgs84 is None:
        return [{"__out_x": Q.degrees(lam), "__out_y": Q.degrees(phi)}]
    return _to_wgs84_stages(lam, phi, a_l, es_l, towgs84, "__Xl __Yl __Zl")


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


def _somerc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """E/N -> lon/lat: spherical Mercator inverse, un-rotate, then the
    fixed-count isometric->geodetic solve; a Bessel->WGS84 datum hop
    when the CRS carries a towgs84."""
    c = _somerc_consts(crs)
    e, es, alpha = c["e"], c["es"], c["alpha"]
    lb, bb, b, psit, phi = _cols("__lb __bb __b __psit __phi")
    sphi = Q.sin(phi)
    psii = (Q.log(Q.tan(phi / Q.lit(2.0) + Q.lit(math.pi / 4.0)))
            - Q.lit(e / 2.0)
            * Q.log((Q.lit(1.0) + Q.lit(e) * sphi)
                    / (Q.lit(1.0) - Q.lit(e) * sphi)))
    step = phi - (psii - psit) * Q.cos(phi) \
        * (Q.lit(1.0) - Q.lit(es) * sphi * sphi) / Q.lit(1.0 - es)
    return [
        {"__lb": (x - Q.lit(c["fe"])) / Q.lit(c["big_r"]),
         "__bb": (Q.lit(2.0) * Q.atan(Q.exp(
             (y - Q.lit(c["fn"])) / Q.lit(c["big_r"])))
             - Q.lit(math.pi / 2.0))},
        {"__b": Q.asin(Q.lit(c["cb0"]) * Q.sin(bb)
                       + Q.lit(c["sb0"]) * Q.cos(bb) * Q.cos(lb))},
        {"__lam": Q.lit(c["lam0"]) + Q.atan2(
            Q.cos(bb) * Q.sin(lb),
            Q.lit(c["cb0"]) * Q.cos(bb) * Q.cos(lb)
            - Q.lit(c["sb0"]) * Q.sin(bb)) / Q.lit(alpha),
         "__psit": (Q.log(Q.tan(Q.lit(math.pi / 4.0) + b / Q.lit(2.0)))
                    - Q.lit(c["k"])) / Q.lit(alpha)},
        {"__phi": (Q.lit(2.0) * Q.atan(Q.exp(psit))
                   - Q.lit(math.pi / 2.0))},
        *[{"__phi": step}] * _SOMERC_ITERS,
    ] + _datum_hop_inv_stages(c["towgs84"], c["a"], es)


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


def _krovak_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Krovak E/N -> lon/lat (EPSG 9819 inverse): un-cone, un-rotate,
    then the fixed-count conformal->geodetic solve; a Bessel->WGS84
    hop when the CRS carries a towgs84."""
    c = _krovak_consts(crs)
    e, es, b = c["e"], c["es"], c["b"]
    sth, wst, r, d, t, u, phi = _cols("__sth __wst __r __D __T __U __phi")
    s = Q.sin(phi)
    step = Q.lit(2.0) * (Q.atan(
        Q.lit(c["t0"] ** (-1.0 / b))
        * Q.pow(Q.tan(u / Q.lit(2.0)
                      + Q.lit(math.pi / 4.0)), Q.lit(1.0 / b))
        * Q.pow((Q.lit(1.0) + Q.lit(e) * s)
                / (Q.lit(1.0) - Q.lit(e) * s), Q.lit(e / 2.0)))
        - Q.lit(math.pi / 4.0))
    return [
        {"__sth": Q.lit(c["sgn"]) * (y - Q.lit(c["y0"])),  # southing
         "__wst": Q.lit(c["sgn"]) * (x - Q.lit(c["x0"]))},  # westing
        {"__r": Q.sqrt(sth * sth + wst * wst)},
        {"__D": Q.atan2(wst, sth) / Q.lit(c["n"]),
         "__T": Q.lit(2.0) * (Q.atan(
             Q.pow(Q.lit(c["r0"]) / r, Q.lit(1.0 / c["n"]))
             * Q.lit(c["tp"])) - Q.lit(math.pi / 4.0))},
        {"__U": Q.asin(Q.lit(c["ca"]) * Q.sin(t)
                       - Q.lit(c["sa"]) * Q.cos(t) * Q.cos(d))},
        {"__lam": Q.lit(c["lam0"]) - Q.asin(
            Q.cos(t) * Q.sin(d) / Q.cos(u)) / Q.lit(b),
         "__phi": u},
        *[{"__phi": step}] * _KROVAK_ITERS,
    ] + _datum_hop_inv_stages(c["towgs84"], c["a"], es)


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


def _eqe_h(t, f=F):
    """h(theta); ``f`` is ``F`` (forward Columns) or ``Q`` (inverse
    SQL text)."""
    return (t * (f.lit(_EQE_A1) + f.lit(_EQE_A2) * t * t)
            + f.pow(t, f.lit(7.0)) * (f.lit(_EQE_A3)
                                      + f.lit(_EQE_A4) * t * t))


def _eqe_hp(t, f=F):
    return (f.lit(_EQE_A1) + f.lit(3.0 * _EQE_A2) * t * t
            + f.pow(t, f.lit(6.0)) * (f.lit(7.0 * _EQE_A3)
                                      + f.lit(9.0 * _EQE_A4) * t * t))


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


def _eqearth_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Equal Earth E/N -> lon/lat: fixed-count Newton theta solve,
    then the authalic->geodetic series."""
    c = _eqearth_consts(crs)
    yn, th, b = _cols("__yn __th __beta")
    lat = b if c["sphere"] else (
        b + Q.lit(c["c2"]) * Q.sin(Q.lit(2.0) * b)
        + Q.lit(c["c4"]) * Q.sin(Q.lit(4.0) * b)
        + Q.lit(c["c6"]) * Q.sin(Q.lit(6.0) * b))
    return [
        {"__yn": (y - Q.lit(c["fn"])) / Q.lit(c["rq"])},
        {"__th": yn / Q.lit(_EQE_A1)},
        *[{"__th": th - (_eqe_h(th, Q) - yn) / _eqe_hp(th, Q)}] * _EQE_ITERS,
        {"__beta": Q.asin(Q.sin(th) / Q.lit(_EQE_M))},
        {"__out_x": Q.lit(c["lon0"]) + Q.degrees(
            (x - Q.lit(c["fe"])) * _eqe_hp(th, Q)
            * Q.lit(_EQE_M) / (Q.lit(c["rq"]) * Q.cos(th))),
         "__out_y": Q.degrees(lat)},
    ]


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


def _cass_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Cassini-Soldner E/N -> lon/lat (EPSG 9806 inverse: rectifying
    latitude series, then the transverse D-expansion)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]
    mu, phi1, t1, nu1, rho1, d = _cols("__mu __phi1 __T1 __nu1 __rho1 __D")
    s = Q.sin(phi1)
    return [
        {"__mu": ((Q.lit(c["m0"]) + (y - Q.lit(c["fn"])))
                  / Q.lit(a * c["m_c0"]))},
        {"__phi1": (mu + Q.lit(c["f1_2"]) * Q.sin(Q.lit(2.0) * mu)
                    + Q.lit(c["f1_4"]) * Q.sin(Q.lit(4.0) * mu)
                    + Q.lit(c["f1_6"]) * Q.sin(Q.lit(6.0) * mu))},
        {"__T1": Q.tan(phi1) * Q.tan(phi1),
         "__nu1": Q.lit(a) / Q.sqrt(Q.lit(1.0) - Q.lit(es) * s * s),
         "__rho1": (Q.lit(a * (1.0 - es))
                    / Q.pow(Q.lit(1.0) - Q.lit(es) * s * s, Q.lit(1.5)))},
        {"__D": (x - Q.lit(c["fe"])) / nu1},
        {"__out_x": Q.degrees(
            Q.lit(c["lam0"])
            + (d - t1 * Q.pow(d, Q.lit(3.0)) / Q.lit(3.0)
               + (Q.lit(1.0) + Q.lit(3.0) * t1) * t1
               * Q.pow(d, Q.lit(5.0)) / Q.lit(15.0))
            / Q.cos(phi1)),
         "__out_y": Q.degrees(
            phi1 - (nu1 * Q.tan(phi1) / rho1)
            * (d * d / Q.lit(2.0) - (Q.lit(1.0) + Q.lit(3.0) * t1)
               * Q.pow(d, Q.lit(4.0)) / Q.lit(24.0)))},
    ]


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


def _poly_m_col(phi, c, f=F):
    return f.lit(c["a"]) * (
        f.lit(c["c0"]) * phi
        - f.lit(c["c2"]) * f.sin(f.lit(2.0) * phi)
        + f.lit(c["c4"]) * f.sin(f.lit(4.0) * phi)
        - f.lit(c["c6"]) * f.sin(f.lit(6.0) * phi))


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


def _poly_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Polyconic E/N -> lon/lat (Snyder 18-18 fixed-count Newton on
    the meridian-arc identity)."""
    c = _poly_consts(crs)
    a, es = c["a"], c["es"]
    aa, xa, bb, phi, s2, cc, ma, mp = _cols(
        "__A __xa __B __phi __s2 __C __Ma __Mp")
    s = Q.sin(phi)
    num = (aa * (cc * ma + Q.lit(1.0)) - ma
           - Q.lit(0.5) * cc * (ma * ma + bb))
    den = (Q.lit(es) * s2 * (ma * ma + bb - Q.lit(2.0) * aa * ma)
           / (Q.lit(4.0) * cc)
           + (aa - ma) * (cc * mp - Q.lit(2.0) / s2)
           - mp)
    newton = [
        {"__s2": Q.sin(Q.lit(2.0) * phi),
         "__C": Q.sqrt(Q.lit(1.0) - Q.lit(es) * s * s) * Q.tan(phi),
         "__Ma": _poly_m_col(phi, c, Q) / Q.lit(a),
         "__Mp": (Q.lit(c["c0"])
                  - Q.lit(2.0 * c["c2"]) * Q.cos(Q.lit(2.0) * phi)
                  + Q.lit(4.0 * c["c4"]) * Q.cos(Q.lit(4.0) * phi)
                  - Q.lit(6.0 * c["c6"]) * Q.cos(Q.lit(6.0) * phi))},
        {"__phi": phi - num / den},
    ]
    equator = Q.abs(aa) < Q.lit(1e-12)
    lam = Q.when(equator, Q.lit(c["lam0"]) + xa).otherwise(
        Q.lit(c["lam0"]) + Q.asin(
            xa * Q.sqrt(Q.lit(1.0) - Q.lit(es) * s * s)
            * Q.tan(phi)) / s)
    return [
        {"__A": (Q.lit(c["m0"]) + (y - Q.lit(c["fn"]))) / Q.lit(a),
         "__xa": (x - Q.lit(c["fe"])) / Q.lit(a)},
        {"__B": aa * aa + xa * xa},
        {"__phi": aa},
        *newton * _POLY_ITERS,
        {"__out_x": Q.degrees(lam),
         "__out_y": Q.when(equator, Q.lit(0.0))
            .otherwise(Q.degrees(phi))},
    ]


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


def _cea_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    c = _cea_consts(crs)
    lon = (Q.lit(c["lon0"])
           + Q.degrees((x - Q.lit(c["fe"])) / Q.lit(c["a"] * c["k0"])))
    beta = Q.asin((y - Q.lit(c["fn"]))
                  * Q.lit(2.0 * c["k0"] / c["a"]) / Q.lit(c["qp"]))
    phi = beta
    for j, cf in enumerate(c["series"], start=1):
        phi = phi + Q.lit(cf) * Q.sin(Q.lit(2.0 * j) * beta)
    return _out(lon, Q.degrees(phi))


# ---- Lambert azimuthal equal-area (EPSG:3035 and kin) -----------------
#
# The reference's most common European target grid (ETRS89-LAEA) goes
# through pyproj (core/gridmapping/transform.py).  Ellipsoidal LAEA from
# Snyder 1987 (public math: eqs. 3-12 authalic latitude, 24-2..24-31 for
# the oblique aspect, 3-18 for the beta -> phi series).  Same design as
# UTM/polar above.

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


def _laea_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)
    xd = (x - Q.lit(fe)) / Q.lit(d)
    yd = Q.lit(d) * (y - Q.lit(fn))
    rho = Q.sqrt(xd * xd + yd * yd)
    ce = Q.lit(2.0) * Q.asin(
        Q.least(rho / Q.lit(2.0 * r_q), Q.lit(1.0)))
    # rho == 0 -> projection center (guarded: sin(ce)/rho is 0/0)
    qv = Q.lit(q_p) * (
        Q.cos(ce) * Q.lit(sb1)
        + Q.when(rho == 0.0, Q.lit(0.0))
        .otherwise(yd * Q.sin(ce) * Q.lit(cb1) / rho)
    )
    beta = Q.asin(Q.least(Q.greatest(qv / Q.lit(q_p), Q.lit(-1.0)),
                          Q.lit(1.0)))
    phi = beta
    for j, c in enumerate(k["series"], start=1):
        phi = phi + Q.lit(c) * Q.sin(Q.lit(2.0 * j) * beta)
    lam = Q.atan2(
        (x - Q.lit(fe)) * Q.sin(ce),
        Q.lit(d) * rho * Q.cos(ce) * Q.lit(cb1)
        - Q.lit(d) * yd * Q.sin(ce) * Q.lit(sb1),
    )
    lon = Q.lit(lon0) + Q.degrees(
        Q.when(rho == 0.0, Q.lit(0.0)).otherwise(lam))
    lat = Q.degrees(
        Q.when(rho == 0.0, Q.lit(math.radians(lat0))).otherwise(phi))
    return _out(lon, lat)


# ---- Lambert conformal conic 2SP (EPSG:2154 / 3034 and kin) -----------
#
# National grids (France RGF93-LCC, ETRS89-LCC Europe) the reference
# reaches through pyproj.  Ellipsoidal LCC-2SP from Snyder 1987
# (public math: eqs. 14-15 m, 15-9 t, 15-1..15-11 forward/inverse, 3-5
# chi -> phi series).

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


def _lcc_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    n, af, rho0, lon0, fe, fn, e, series = _lcc_consts(crs)
    xd = x - Q.lit(fe)
    yd = Q.lit(rho0) - (y - Q.lit(fn))
    # northern-cone registrations have n > 0: rho' carries n's
    # sign directly
    rho = Q.sqrt(xd * xd + yd * yd)
    t = Q.pow(rho / Q.lit(af), Q.lit(1.0 / n))
    chi = Q.lit(math.pi / 2.0) - 2 * Q.atan(t)
    phi = chi
    for j, c in enumerate(series, start=1):
        phi = phi + Q.lit(c) * Q.sin(Q.lit(2.0 * j) * chi)
    lam = Q.atan2(xd, yd) / Q.lit(n)
    return _out(Q.lit(lon0) + Q.degrees(lam), Q.degrees(phi))


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


def _aea_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])
    xd = x - Q.lit(fe)
    yd = Q.lit(rho0) - (y - Q.lit(fn))
    rho = Q.sqrt(xd * xd + yd * yd)
    q = (Q.lit(c) - rho * rho
         * Q.lit(n * n / (k["a"] * k["a"]))) / Q.lit(n)
    beta = Q.asin(Q.least(Q.greatest(q / Q.lit(k["q_p"]),
                                     Q.lit(-1.0)),
                          Q.lit(1.0)))
    phi = beta
    for j, cc in enumerate(k["series"], start=1):
        phi = phi + Q.lit(cc) * Q.sin(Q.lit(2.0 * j) * beta)
    lam = Q.atan2(xd, yd) / Q.lit(n)
    return _out(Q.lit(lon0) + Q.degrees(lam), Q.degrees(phi))


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


def _moll_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    r = MOLL_PARAMS[crs.upper()]
    t = Q.asin(y / Q.lit(_SQRT2 * r))
    phi = Q.asin(
        (Q.lit(2.0) * t + Q.sin(Q.lit(2.0) * t)) / Q.lit(math.pi))
    lon = Q.degrees(
        x * Q.lit(math.pi) / (Q.lit(2.0 * _SQRT2 * r) * Q.cos(t)))
    return _out(lon, Q.degrees(phi))


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


def _hammer_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    r = HAMMER_PARAMS[crs.upper()]
    xn = x / Q.lit(r)
    yn = y / Q.lit(r)
    z = Q.sqrt(Q.lit(1.0) - (xn / 4.0) * (xn / 4.0)
               - (yn / 2.0) * (yn / 2.0))
    lon = Q.degrees(Q.lit(2.0) * Q.atan2(
        z * xn, Q.lit(2.0) * (Q.lit(2.0) * z * z - Q.lit(1.0))))
    lat = Q.degrees(Q.asin(z * yn))
    return _out(lon, lat)


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


def _igh_lamc(lam, phi_or_y, f=F):
    """Per-lobe central meridian (radians) from the signed latitude
    proxy (phi forward / yn inverse) and the longitude proxy (lam
    forward / xn inverse) — the GCTP/PROJ zone table: north splits at
    40W into lobes centered 100W / 30E; south splits at 100W / 20W /
    80E into lobes centered 160W / 60W / 20E / 140E.  Both directions
    use the SAME selector (the inverse classifies by projected x
    against the interruption meridians, exact for in-lobe points and
    deterministic for gap points).  ``f`` is ``F`` for the forward's
    Columns and ``Q`` for the inverse's SQL text."""
    north = f.when(lam <= f.lit(-_IGH_D40), f.lit(-_IGH_D100)) \
        .otherwise(f.lit(_IGH_D30))
    south = f.when(lam <= f.lit(-_IGH_D100), f.lit(-_IGH_D160)) \
        .when(lam <= f.lit(-_IGH_D20), f.lit(-_IGH_D60)) \
        .when(lam <= f.lit(_IGH_D80), f.lit(_IGH_D20)) \
        .otherwise(f.lit(_IGH_D140))
    return f.when(phi_or_y >= f.lit(0.0), north).otherwise(south)


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


def _igh_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Closed-form inverse: classify moll-vs-sinu by |y| against the
    boundary parallel and the lobe by x against the interruption
    meridians (exactly PROJ's inverse zone test), then invert the
    zone's pseudocylindrical — Mollweide's inverse is closed form, so
    the whole inverse is a single stage."""
    r = IGH_PARAMS[crs.upper()]
    xn = x / Q.lit(r)
    yn = y / Q.lit(r)
    lamc = _igh_lamc(xn, yn, Q)
    moll = (yn >= Q.lit(_IGH_PHIB)) | (yn < Q.lit(-_IGH_PHIB))
    t = Q.asin((Q.abs(yn) + Q.lit(_IGH_DY)) / Q.lit(_SQRT2))
    sgn = Q.when(yn < Q.lit(0.0), Q.lit(-1.0)).otherwise(Q.lit(1.0))
    phi_m = sgn * Q.asin(
        (Q.lit(2.0) * t + Q.sin(Q.lit(2.0) * t)) / Q.lit(math.pi))
    lam_m = lamc + (xn - lamc) * Q.lit(math.pi) \
        / (Q.lit(2.0 * _SQRT2) * Q.cos(t))
    lam_s = lamc + (xn - lamc) / Q.cos(yn)
    # out-of-domain guard: |y|/R beyond sqrt(2)-dy puts the asin
    # argument past 1 and would silently NaN — corner pixels of a
    # rectangular target bbox land here.  Yield explicit NULL so
    # both engines fail deterministically (advice r9).
    valid = Q.abs(yn) <= Q.lit(_SQRT2 - _IGH_DY)
    lon = Q.when(valid,
                 Q.degrees(Q.when(moll, lam_m).otherwise(lam_s)))
    lat = Q.when(valid,
                 Q.degrees(Q.when(moll, phi_m).otherwise(yn)))
    return _out(lon, lat)


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


def _wt_T(alpha, sa, f=F):
    """alpha / sin(alpha) with its alpha -> 0 series (1 + a^2/6)."""
    return f.when(alpha < f.lit(_WT_EPS),
                  f.lit(1.0) + alpha * alpha / f.lit(6.0)) \
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


def _wintri_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Winkel Tripel E/N -> lon/lat: a fixed-count 2-D Newton solve on
    the forward, two stages per iteration: the alpha terms of the
    current estimate, then the update.  f = forward(lam, phi) - in,
    J analytic; delta = J^-1 f."""
    r, cp1 = WINTRI_PARAMS[crs.upper()]
    xn, yn, lam, phi = _cols("__wxn __wyn __wl __wp")
    t, dt, dal, dap = _cols("__wt __wdt __wdal __wdap")
    lam2 = lam / Q.lit(2.0)
    sl2, cl2 = Q.sin(lam2), Q.cos(lam2)
    sp, cp = Q.sin(phi), Q.cos(phi)
    alpha = Q.acos(Q.least(cp * cl2, Q.lit(1.0)))
    sa = Q.sin(alpha)
    terms = {
        "__wt": _wt_T(alpha, sa, Q),
        # dT/dalpha, with its alpha -> 0 limit alpha/3
        "__wdt": Q.when(alpha < Q.lit(_WT_EPS), alpha / Q.lit(3.0))
        .otherwise((sa - alpha * Q.cos(alpha)) / (sa * sa)),
        # dalpha/dlam, dalpha/dphi (0 at the alpha=0 singularity)
        "__wdal": Q.when(sa < Q.lit(_WT_EPS), Q.lit(0.0))
        .otherwise(cp * sl2 / (Q.lit(2.0) * sa)),
        "__wdap": Q.when(sa < Q.lit(_WT_EPS), Q.lit(0.0))
        .otherwise(sp * cl2 / sa),
    }
    f1 = Q.lit(0.5) * (lam * Q.lit(cp1)
                       + Q.lit(2.0) * cp * sl2 * t) - xn
    f2 = Q.lit(0.5) * (phi + sp * t) - yn
    dxl = Q.lit(0.5) * (Q.lit(cp1) + Q.lit(2.0) * cp
                        * (Q.lit(0.5) * cl2 * t + sl2 * dt * dal))
    dxp = Q.lit(0.5) * (Q.lit(-2.0) * sp * sl2 * t
                        + Q.lit(2.0) * cp * sl2 * dt * dap)
    dyl = Q.lit(0.5) * (sp * dt * dal)
    dyp = Q.lit(0.5) * (Q.lit(1.0) + cp * t + sp * dt * dap)
    det = dxl * dyp - dxp * dyl
    newton = {
        "__wl": Q.least(Q.greatest(lam - (dyp * f1 - dxp * f2) / det,
                                   Q.lit(-math.pi)), Q.lit(math.pi)),
        "__wp": Q.least(Q.greatest(phi - (dxl * f2 - dyl * f1) / det,
                                   Q.lit(-math.pi / 2)),
                        Q.lit(math.pi / 2)),
    }
    return [
        {"__wxn": x / Q.lit(r), "__wyn": y / Q.lit(r)},
        # exact on the equator: x(lam, 0) = R/2 lam (cos phi1 + 1);
        # exact at the poles and to O(phi^3) near the equator
        {"__wl": Q.least(Q.greatest(Q.lit(2.0) * xn / Q.lit(1.0 + cp1),
                                    Q.lit(-math.pi)), Q.lit(math.pi)),
         "__wp": Q.least(Q.greatest(yn, Q.lit(-math.pi / 2)),
                         Q.lit(math.pi / 2))},
        *[terms, newton] * _WINTRI_ITERS,
        {"__out_x": Q.degrees(lam), "__out_y": Q.degrees(phi)},
    ]


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


def _ne_xfac(p2, f=F):
    """x polynomial factor A0 + p2*(A1 + p2*(A2 + p2^3*(A3 + p2*A4)));
    ``f`` is ``F`` (forward Columns) or ``Q`` (inverse SQL text)."""
    a0, a1, a2, a3, a4 = (f.lit(v) for v in _NE_A)
    return a0 + p2 * (a1 + p2 * (a2 + p2 * p2 * p2
                                 * (a3 + p2 * a4)))


def _ne_yfac(p2, f=F):
    b0, b1, b2, b3, b4 = (f.lit(v) for v in _NE_B)
    return b0 + p2 * (b1 + p2 * p2 * (b2 + b3 * p2 + b4 * p2 * p2))


def _ne_dy(p2, f=F):
    c0, c1, c2, c3, c4 = (f.lit(v) for v in _NE_C)
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


def _natearth_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Natural Earth E/N -> lon/lat: fixed-count Newton on the
    latitude polynomial, one stage per iteration."""
    r = NATEARTH_PARAMS[crs.upper()]
    yn, phi = _cols("__yn __phi")
    p2 = phi * phi
    return [
        {"__yn": y / Q.lit(r)},
        {"__phi": yn},  # y/R is within ~7% of phi everywhere
        *[{"__phi": phi - (phi * _ne_yfac(p2, Q) - yn)
           / _ne_dy(p2, Q)}] * _NE_ITERS,
        {"__out_x": Q.degrees(x / (Q.lit(r) * _ne_xfac(p2, Q))),
         "__out_y": Q.degrees(phi)},
    ]


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


def _eck4_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    r = ECK4_PARAMS[crs.upper()]
    t = Q.asin(y / Q.lit(_ECK4_CY * r))
    phi = Q.asin(
        (t + Q.sin(t) * Q.cos(t) + Q.lit(2.0) * Q.sin(t))
        / Q.lit(_ECK4_CP))
    lon = Q.degrees(
        x / (Q.lit(_ECK4_CX * r) * (Q.lit(1.0) + Q.cos(t))))
    return _out(lon, Q.degrees(phi))


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


def _mill_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    r = MILL_PARAMS[crs.upper()]
    lat = Q.degrees(Q.lit(2.5) * (
        Q.atan(Q.exp(Q.lit(0.8) * y / Q.lit(r)))
        - Q.lit(math.pi / 4.0)))
    lon = Q.degrees(x / Q.lit(r))
    return _out(lon, lat)


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


def _vandg_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Van der Grinten E/N -> lon/lat: Snyder's closed-form cubic,
    staged."""
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r
    x_, y_, x2, y2, c1, c2, c3, d, a1, m1, t1 = _cols(
        "__X __Y __X2 __Y2 __c1 __c2 __c3 __d __a1 __m1 __t1")
    return [
        {"__X": x / Q.lit(pr), "__Y": y / Q.lit(pr)},
        {"__X2": x_ * x_, "__Y2": y_ * y_},
        # c1..c3 (33-16..33-18)
        {"__c1": Q.lit(-1.0) * Q.abs(y_) * (Q.lit(1.0) + x2 + y2)},
        {"__c2": c1 - Q.lit(2.0) * y2 + x2},
        {"__c3": Q.lit(-2.0) * c1 + Q.lit(1.0) + Q.lit(2.0) * y2
            + (x2 + y2) * (x2 + y2)},
        # d (33-19), a1 (33-20), m1 (33-21), theta1 (33-22)
        {"__d": y2 / c3 + (
            Q.lit(2.0) * c2 * c2 * c2 / (c3 * c3 * c3)
            - Q.lit(9.0) * c1 * c2 / (c3 * c3)) / Q.lit(27.0),
         "__a1": (c1 - c2 * c2 / (Q.lit(3.0) * c3)) / c3},
        {"__m1": Q.lit(2.0) * Q.sqrt(Q.lit(-1.0) * a1 / Q.lit(3.0))},
        {"__t1": Q.acos(Q.lit(3.0) * d / (a1 * m1)) / Q.lit(3.0)},
        # phi (33-23) guarded at Y = 0; lam (33-15) guarded at X = 0
        {"__out_y": Q.when(Q.abs(y_) < Q.lit(1e-12), Q.lit(0.0))
            .otherwise(Q.degrees(
                Q.signum(y_) * Q.lit(math.pi) * (
                    Q.lit(-1.0) * m1 * Q.cos(t1 + Q.lit(math.pi / 3.0))
                    - c2 / (Q.lit(3.0) * c3)))),
         "__out_x": Q.when(Q.abs(x_) < Q.lit(1e-12), Q.lit(0.0))
            .otherwise(Q.degrees(
                Q.lit(math.pi) * (
                    x2 + y2 - Q.lit(1.0) + Q.sqrt(
                        Q.lit(1.0) + Q.lit(2.0) * (x2 - y2)
                        + (x2 + y2) * (x2 + y2)))
                / (Q.lit(2.0) * x_)))},
    ]


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


def _sinu_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    r = SINU_PARAMS[crs.upper()]
    phi = y / Q.lit(r)
    return _out(Q.degrees(x / (Q.lit(r) * Q.cos(phi))), Q.degrees(phi))


# ---- Robinson (+proj=robin; ESRI:54030) ---------------------------------
#
# The classic compromise world projection (Robinson 1974; Snyder
# "Flattening the Earth" ch. on pseudocylindricals): defined by a
# TABLE, not a formula — published (X, Y) scale factors every 5 deg of
# latitude, interpolated smoothly.  x = 0.8487 R X(|lat|) lam,
# y = 1.3523 R Y(|lat|) sign(lat).  This implementation interpolates
# with the natural cubic spline through the 19 published nodes
# (coefficients solved once at import by a pure-Python tridiagonal
# pass and embedded identically in the forward and the inverse);
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


def _robin_pick(i, vals: list[float], f=F):
    """CASE ladder selecting a per-interval spline constant; ``f`` is
    ``F`` (forward Columns) or ``Q`` (inverse SQL text)."""
    expr = f.lit(vals[-1])
    for j in range(len(vals) - 2, -1, -1):
        expr = f.when(i == j, f.lit(vals[j])).otherwise(expr)
    return expr


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


def _robin_inverse(x: _Sql, y: _Sql, crs: str) -> list[dict]:
    """Robinson E/N -> lon/lat: locate the spline interval of |y|,
    then a fixed-count Newton solve for the in-interval parameter."""
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))
    nodes = list(_ROBIN_Y)
    ay, i, s = _cols("__ay __i __s")

    def pick(vals):
        return _robin_pick(i, vals, Q)

    # largest interval whose lower node <= ay (17 comparisons),
    # capped at the last interval
    idx = Q.lit(0)
    for j in range(1, len(nodes) - 1):
        idx = idx + Q.when(ay >= Q.lit(nodes[j]), 1).otherwise(0)
    lo, hi = pick(nodes[:-1]), pick(nodes[1:])
    f = (pick(ya) + pick(yb) * s + pick(yc) * s * s
         + pick(yd) * s * s * s) - ay
    fp = (pick(yb) + Q.lit(2.0) * pick(yc) * s
          + Q.lit(3.0) * pick(yd) * s * s)
    xf = (pick(xa) + pick(xb) * s + pick(xc) * s * s
          + pick(xd) * s * s * s)
    return [
        {"__ay": Q.least(Q.abs(y) / Q.lit(yk), Q.lit(1.0))},
        {"__i": idx.cast("int")},
        {"__s": (ay - lo) / (hi - lo)},  # linear seed in the interval
        *[{"__s": s - f / fp}] * _ROBIN_ITERS,
        {"__out_x": Q.degrees(x / (Q.lit(xk) * xf)),
         "__out_y": (Q.lit(5.0) * (i.cast("double") + s)
                     * Q.signum(y + Q.lit(0.0)))},
    ]


#: registry of pure-Column CRS transforms (target CRS -> source CRS)
#: one row per CRS family, in match order: (matcher, inverse stages
#: function, forward factory).  The matcher is a params table / set of
#: CRS keys, or a parser returning a truthy value for a match.
_FAMILIES: tuple = (
    ({"EPSG:3857"}, _mercator_inverse, lambda crs: _lonlat_to_mercator),
    (MERC_PARAMS, _merc_inverse, _lonlat_to_merc_fn),
    (GEOS_PARAMS, _geos_inverse, _lonlat_to_geos_fn),
    (ROTPOLE_PARAMS, _rotpole_inverse, _lonlat_to_rotpole_fn),
    (STEREA_PARAMS, _sterea_inverse, _lonlat_to_sterea_fn),
    (SOMERC_PARAMS, _somerc_inverse, _lonlat_to_somerc_fn),
    (KROVAK_PARAMS, _krovak_inverse, _lonlat_to_krovak_fn),
    (EQEARTH_PARAMS, _eqearth_inverse, _lonlat_to_eqearth_fn),
    (CASS_PARAMS, _cass_inverse, _lonlat_to_cass_fn),
    (POLY_PARAMS, _poly_inverse, _lonlat_to_poly_fn),
    (PS_PARAMS, _ps_inverse, _lonlat_to_ps_fn),
    (CEA_PARAMS, _cea_inverse, _lonlat_to_cea_fn),
    (AEQD_PARAMS, _aeqd_inverse, _lonlat_to_aeqd_fn),
    (ORTHO_PARAMS, _ortho_inverse, _lonlat_to_ortho_fn),
    (NSPER_PARAMS, _nsper_inverse, _lonlat_to_nsper_fn),
    (STEREG_PARAMS, _stereg_inverse, _lonlat_to_stereg_fn),
    (OMERC_PARAMS, _omerc_inverse, _lonlat_to_omerc_fn),
    (EQC_PARAMS, _eqc_inverse, _lonlat_to_eqc_fn),
    (EQDC_PARAMS, _eqdc_inverse, _lonlat_to_eqdc_fn),
    (LAEA_PARAMS, _laea_inverse, _lonlat_to_laea_fn),
    (LCC_PARAMS, _lcc_inverse, _lonlat_to_lcc_fn),
    (AEA_PARAMS, _aea_inverse, _lonlat_to_aea_fn),
    (SINU_PARAMS, _sinu_inverse, _lonlat_to_sinu_fn),
    (MOLL_PARAMS, _moll_inverse, _MollForward),
    (ECK4_PARAMS, _eck4_inverse, _Eck4Forward),
    (NATEARTH_PARAMS, _natearth_inverse, _lonlat_to_natearth_fn),
    (GNOM_PARAMS, _gnom_inverse, _lonlat_to_gnom_fn),
    (MILL_PARAMS, _mill_inverse, _lonlat_to_mill_fn),
    (VANDG_PARAMS, _vandg_inverse, _lonlat_to_vandg_fn),
    (ROBIN_PARAMS, _robin_inverse, _lonlat_to_robin_fn),
    (HAMMER_PARAMS, _hammer_inverse, _lonlat_to_hammer_fn),
    (IGH_PARAMS, _igh_inverse, _IghForward),
    (WINTRI_PARAMS, _wintri_inverse, _lonlat_to_wintri_fn),
    ({"EPSG:27700"}, _osgb_inverse, lambda crs: _lonlat_to_osgb_fn()),
    (TM_PARAMS, _tm_inverse, _lonlat_to_tm_fn),
    (parse_utm_crs, _utm_inverse,
     lambda crs: _lonlat_to_utm_fn(*parse_utm_crs(crs))),
)


def _family(crs: str) -> tuple | None:
    up = crs.upper()
    for row in _FAMILIES:
        if (row[0](up) if callable(row[0]) else up in row[0]):
            return row
    return None


def _to_lonlat_fn(crs: str) -> SqlInverse | None:
    """Closed-form inverse from ``crs`` into EPSG:4326, if known."""
    row = _family(crs)
    if row is None:
        return None
    up = crs.upper()
    return SqlInverse(lambda x, y: row[1](x, y, up))


def _from_lonlat_fn(crs: str):
    """Closed-form forward from EPSG:4326 into ``crs``, if known."""
    row = _family(crs)
    return None if row is None else row[2](crs.upper())


def _stages_sql(crs, x: str, y: str) -> list[dict]:
    from xcube_spark.operators.resampling.crsparse import resolve_crs

    inv = _to_lonlat_fn(resolve_crs(crs))
    if inv is None:
        raise ValueError(f"no closed-form inverse for {crs}")
    return inv.build(_Sql(f"({x})"), _Sql(f"({y})"))


def inverse_sql(crs, x: str, y: str) -> tuple[str, str]:
    """A single-stage inverse as DuckDB SQL over the input texts
    ``x``/``y``: returns (lon_sql, lat_sql)."""
    stages = _stages_sql(crs, x, y)
    if len(stages) != 1:
        raise ValueError(f"{crs}: multi-stage inverse, use inverse_sql_ctes")
    return _duckdb(stages[0]["__out_x"]), _duckdb(stages[0]["__out_y"])


def inverse_sql_ctes(crs, x: str, y: str, src: str = "tgt") -> str:
    """An inverse as DuckDB CTEs over ``src`` ending in ``ll`` = the
    ``src`` columns + ``lon``/``lat``; ``x``/``y`` are SQL over ``src``.
    A multi-stage inverse gets one CTE per stage (``ll1``, ``ll2``, ...)."""
    stages = _stages_sql(crs, x, y)
    if len(stages) == 1:
        lon, lat = inverse_sql(crs, x, y)
        return f"ll AS (SELECT *, {lon} AS lon, {lat} AS lat FROM {src})"
    ctes, names, prev = [], [], src
    for i, stage in enumerate(stages, start=1):
        again = [n for n in stage if n in names]
        excl = f" EXCLUDE ({', '.join(again)})" if again else ""
        cols = ", ".join(f"{_duckdb(t)} AS {n}" for n, t in stage.items())
        ctes.append(f"ll{i} AS (SELECT *{excl}, {cols} FROM {prev})")
        names += [n for n in stage if n not in names]
        prev = f"ll{i}"
    ctes.append(f"ll AS (SELECT * EXCLUDE ({', '.join(names)}), "
                f"__out_x AS lon, __out_y AS lat FROM {prev})")
    return ",\n        ".join(ctes)


def get_transform(src_crs, dst_crs):
    """Transform from ``src_crs`` coords into ``dst_crs`` coords, for
    :func:`apply_transform_df`.

    Each CRS may be an authority string (``EPSG:32633``), a PROJ.4
    parameter string (``+proj=tmerc +lat_0=…``), or a CF grid-mapping
    attribute mapping (``{'grid_mapping_name': …}``) — the latter two
    resolve through :mod:`.crsparse` onto the parameterized
    closed-form families (reference parity:
    `pyproj.CRS.from_cf` / arbitrary-CRS transforms at
    `xcube/core/gridmapping/cfconv.py:211`, `transform.py`).

    Equal CRSs map through the identity; otherwise the closed-form
    families (``_FAMILIES``) chain through a 4326 hop.  Pairs outside
    them fall back to a pyproj-backed pandas_udf when the package is
    available (it is not baked into this container — the fallback
    raises with a clear message otherwise)."""
    from xcube_spark.operators.resampling.crsparse import resolve_crs

    src_crs = resolve_crs(src_crs)
    dst_crs = resolve_crs(dst_crs)
    if src_crs.upper() == dst_crs.upper():
        return _identity
    to_ll = (_identity if src_crs.upper() == "EPSG:4326"
             else _to_lonlat_fn(src_crs))
    from_ll = (_identity if dst_crs.upper() == "EPSG:4326"
               else _from_lonlat_fn(dst_crs))
    if to_ll is not None and from_ll is not None:
        if from_ll is _identity:
            return to_ll
        if to_ll is _identity:
            return from_ll
        return _Chain(to_ll, from_ll)
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
            f"no closed-form transform for {src_crs} -> {dst_crs} "
            "and pyproj is not installed; add a CRS family to "
            "_FAMILIES in reproject.py or install pyproj"
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
    # SQL-text inputs: a single-stage inverse inlines them into one
    # parsed expression per output (one server-side parse instead of
    # hundreds of Column-API py4j round trips per plan build)
    tgt = apply_transform_df(
        tgt, transform, target.x_center_sql("x_i"),
        target.y_center_sql("y_i"), "__tsx", "__tsy")
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
    if _staged(transform):
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
