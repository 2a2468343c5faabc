"""PROJ.4-string and CF-grid-mapping CRS resolution onto the
closed-form projection families.

The reference accepts *any* pyproj CRS — `pyproj.CRS.from_cf(attrs)`
in `xcube/core/gridmapping/cfconv.py:211` decodes the CF grid-mapping
attributes NetCDF datasets actually carry, and
`xcube/core/gridmapping/transform.py` transforms between arbitrary
CRS objects.  pyproj is not available in this build, so this module
closes the practical gap without it: the two CRS spellings real EO
data ships with — PROJ.4 parameter strings (``+proj=tmerc +lat_0=…``)
and CF grid-mapping attribute dicts — are parsed here and resolved
onto the *parameterized* closed-form families in
:mod:`xcube_spark.operators.resampling.reproject` (transverse
mercator with arbitrary ellipsoid/origin/scale, LCC-2SP, Albers,
LAEA, polar stereographic, sinusoidal, Mollweide, spherical
mercator, plain lat/lon).  Resolution *registers* the parsed
parameters into the family tables under a canonical key, so the
whole dispatch (`get_transform`, the inverse stage text and its DuckDB
rendering) works unchanged — genuinely arbitrary parameters, not just
the pre-registered EPSG codes.

Round 8 extended the family set (rotated pole, oblique/double
stereographic, spherical any-aspect stereographic, Hotine oblique
Mercator, cylindrical equal-area, equidistant cylindrical, azimuthal
equidistant, orthographic) and generalized LCC/AEA/LAEA to arbitrary
ellipsoids.  The remaining gaps (ellipsoidal aeqd geodesics,
two-point omerc, spherical conics) still raise
``NotImplementedError`` with a message naming the unsupported
parameter — the same contract as `get_transform`'s pyproj seam.
"""

from __future__ import annotations

import math
from collections.abc import Mapping

#: +ellps= / +datum= name -> (semi-major a, inverse flattening rf).
#: rf = inf encodes a sphere.  Values are the PROJ built-in ellipsoid
#: table's (public constants; proj -le).
ELLIPSOIDS: dict[str, tuple[float, float]] = {
    "WGS84": (6_378_137.0, 298.257223563),
    "GRS80": (6_378_137.0, 298.257222101),
    "AIRY": (6_377_563.396, 299.3249646),
    "INTL": (6_378_388.0, 297.0),
    "CLRK66": (6_378_206.4, 294.978698214),
    "CLRK80IGN": (6_378_249.2, 293.466021294),
    "BESSEL": (6_377_397.155, 299.1528128),
    "KRASS": (6_378_245.0, 298.3),
    "SPHERE": (6_370_997.0, math.inf),
}

_GRS80_RF = 298.257222101
_WGS84_RF = 298.257223563
_WGS84_E2 = (1.0 / _WGS84_RF) * (2.0 - 1.0 / _WGS84_RF)


def parse_proj4(text: str) -> dict[str, str]:
    """``'+proj=tmerc +lat_0=0 +south'`` -> ``{'proj': 'tmerc',
    'lat_0': '0', 'south': ''}`` (bare flags map to '')."""
    out: dict[str, str] = {}
    for tok in text.split():
        if not tok.startswith("+"):
            raise ValueError(f"malformed PROJ.4 token {tok!r} in {text!r}")
        body = tok[1:]
        if "=" in body:
            k, v = body.split("=", 1)
            out[k.lower()] = v
        else:
            out[body.lower()] = ""
    if "proj" not in out and "init" not in out:
        raise ValueError(f"PROJ.4 string has no +proj/+init: {text!r}")
    return out


def _ellipsoid(p: Mapping[str, str]) -> tuple[float, float]:
    """(a, rf) from +a/+b/+rf/+f/+R/+ellps/+datum; default WGS84
    (PROJ's default datum)."""
    if "r" in p:
        return float(p["r"]), math.inf
    name = (p.get("ellps") or p.get("datum") or "").upper()
    if name and name not in ELLIPSOIDS and "a" not in p:
        raise NotImplementedError(
            f"unknown ellipsoid {name!r}; supported: "
            f"{sorted(ELLIPSOIDS)} or explicit +a/+b/+rf/+f/+R")
    a, rf = ELLIPSOIDS.get(name, ELLIPSOIDS["WGS84"])
    if "a" in p:
        a = float(p["a"])
        if not name:
            # bare +a with no named ellipsoid: sphere unless +rf/+f/+b
            # gives a flattening below.  With +ellps/+datum present,
            # PROJ keeps the named flattening under the overridden
            # semi-major axis (ADVICE r7).
            rf = math.inf
    if "rf" in p:
        rf = float(p["rf"])
    elif "f" in p:
        f = float(p["f"])
        rf = math.inf if f == 0.0 else 1.0 / f
    elif "b" in p:
        b = float(p["b"])
        rf = math.inf if b == a else a / (a - b)
    return a, rf


def _f(rf: float) -> float:
    return 0.0 if math.isinf(rf) else 1.0 / rf


def _grs80ish(a: float, rf: float) -> bool:
    """True when the ellipsoid is GRS80/WGS84 to within the legacy
    tolerance (eccentricities differ at 1e-11 — sub-mm on Earth), so
    LCC/AEA/LAEA register the short GRS80-default family tuple and
    keep their historical canonical keys; anything else registers the
    ellipsoid-extended 8-tuple (round 8)."""
    return (abs(a - 6_378_137.0) < 1e-3
            and math.isfinite(rf) and abs(rf - _GRS80_RF) < 1e-3)


def _conic_params(a: float, rf: float, base: tuple) -> tuple:
    if _grs80ish(a, rf):
        return base
    if not math.isfinite(rf):
        raise NotImplementedError(
            "lcc/aea/laea: spherical forms are not implemented "
            "(give an ellipsoid with finite flattening)")
    return base + (a, rf)


def _num(p: Mapping[str, str], key: str, default: float = 0.0) -> float:
    return float(p[key]) if key in p else default


def _towgs84(p: Mapping[str, str]) -> tuple | None:
    """Parse +towgs84 into the position-vector 7-tuple
    (tx, ty, tz [m]; rx, ry, rz [rad]; s [unitless]) used by the
    Helmert-hop families; None when absent or the null transform."""
    raw = p.get("towgs84")
    if raw is None:
        return None
    vals = [float(v) for v in str(raw).split(",")]
    if len(vals) == 3:
        vals += [0.0, 0.0, 0.0, 0.0]
    if len(vals) != 7:
        raise NotImplementedError(
            "+towgs84 needs 3 or 7 comma-separated values")
    if not any(vals):
        return None
    return (vals[0], vals[1], vals[2],
            math.radians(vals[3] / 3600.0),
            math.radians(vals[4] / 3600.0),
            math.radians(vals[5] / 3600.0),
            vals[6] * 1e-6)


def _register(table: dict, family: str, params: tuple) -> str:
    """Insert ``params`` into a family table under a canonical
    uppercase key (the tables are looked up via ``crs.upper()``)."""
    body = ",".join(repr(v) for v in params)
    key = f"PROJ:{family.upper()}:{body}".upper()
    table[key] = params
    return key


def resolve_proj4(text: str) -> str:
    """Resolve a PROJ.4 string to a CRS key `get_transform` accepts —
    an EPSG/ESRI code when the string IS one of the fixed-parameter
    CRSs, else a canonical key registered into the matching family's
    parameter table."""
    from xcube_spark.operators.resampling import reproject as R

    p = parse_proj4(text)
    if "init" in p:  # +init=epsg:32633
        return p["init"].upper()
    proj = p["proj"].lower()
    a, rf = _ellipsoid(p)

    if proj in ("longlat", "latlong", "lonlat", "latlon"):
        return "EPSG:4326"

    if proj == "utm":
        zone = int(p["zone"])
        south = "south" in p
        if abs(rf - _WGS84_RF) < 1e-6 and abs(a - 6_378_137.0) < 1e-3:
            return R.utm_crs(zone, south)
        # non-WGS84 UTM (e.g. +ellps=GRS80): general TM parameters
        return _register(
            R.TM_PARAMS, "tmerc",
            (a, _f(rf), 0.0, zone * 6.0 - 183.0, 0.9996,
             500_000.0, 10_000_000.0 if south else 0.0))

    if proj == "tmerc":
        k0 = _num(p, "k", _num(p, "k_0", 1.0))
        lat0, lon0 = _num(p, "lat_0"), _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        # normalize the UTM parameter pattern on WGS84 back to its
        # EPSG code (stable round-trip through CF encode/decode)
        zone = (lon0 + 183.0) / 6.0
        if (abs(rf - _WGS84_RF) < 1e-6 and abs(a - 6_378_137.0) < 1e-3
                and lat0 == 0.0 and k0 == 0.9996 and x0 == 500_000.0
                and y0 in (0.0, 10_000_000.0)
                and zone == int(zone) and 1 <= int(zone) <= 60):
            return R.utm_crs(int(zone), y0 == 10_000_000.0)
        return _register(
            R.TM_PARAMS, "tmerc",
            (a, _f(rf), lat0, lon0, k0, x0, y0))

    if proj == "lcc":
        if "lat_1" in p and "lat_2" in p:
            lat1, lat2 = float(p["lat_1"]), float(p["lat_2"])
        else:
            # 1-SP form (EPSG method 9801): the single standard
            # parallel (+lat_1, default +lat_0) with k_0=1 is exactly
            # the 2-SP cone with both parallels on it — n = sin(phi1),
            # same F and rho formulas.  A non-unit k_0 rescales the
            # cone and has no 2-SP equivalent here.
            k0 = _num(p, "k", _num(p, "k_0", 1.0))
            if k0 != 1.0:
                raise NotImplementedError(
                    "lcc 1-SP: only k_0=1 is supported (a non-unit "
                    "scale factor has no 2-SP restatement)")
            lat1 = lat2 = _num(p, "lat_1", _num(p, "lat_0"))
        return _register(
            R.LCC_PARAMS, "lcc",
            _conic_params(a, rf, (lat1, lat2, _num(p, "lat_0"),
                                  _num(p, "lon_0"), _num(p, "x_0"),
                                  _num(p, "y_0"))))

    if proj == "aea":
        if "lat_1" not in p or "lat_2" not in p:
            raise NotImplementedError("aea needs +lat_1 and +lat_2")
        return _register(
            R.AEA_PARAMS, "aea",
            _conic_params(a, rf, (float(p["lat_1"]), float(p["lat_2"]),
                                  _num(p, "lat_0"), _num(p, "lon_0"),
                                  _num(p, "x_0"), _num(p, "y_0"))))

    if proj == "laea":
        return _register(
            R.LAEA_PARAMS, "laea",
            _conic_params(a, rf, (_num(p, "lat_0"), _num(p, "lon_0"),
                                  _num(p, "x_0"), _num(p, "y_0"))))

    if proj == "stere":
        lat0 = _num(p, "lat_0")
        if math.isinf(rf):
            # spherical stereographic, ANY aspect (Snyder ch. 21) —
            # the CF 'stereographic' name lands here
            if "lat_ts" in p:
                raise NotImplementedError(
                    "stere (spherical): +lat_ts form not supported; "
                    "use +k_0")
            k0 = _num(p, "k", _num(p, "k_0", 1.0))
            return _register(
                R.STEREG_PARAMS, "stereg",
                (a, k0, lat0, _num(p, "lon_0"),
                 _num(p, "x_0"), _num(p, "y_0")))
        if abs(abs(lat0) - 90.0) > 1e-9:
            raise NotImplementedError(
                "stere: the ellipsoidal oblique/equatorial aspect is "
                "not implemented (use +proj=sterea for the double "
                "stereographic, or a sphere +R for Snyder ch. 21)")
        if abs(rf - _WGS84_RF) > 1e-3 or abs(a - 6_378_137.0) > 1e-3:
            raise NotImplementedError(
                "stere: only the WGS84 ellipsoid is supported")
        south = lat0 < 0.0
        lon0 = _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        lat_ts = abs(float(p["lat_ts"])) if "lat_ts" in p else None
        if lat_ts is not None and abs(lat_ts - 90.0) < 1e-9:
            lat_ts = None  # scale stated at the pole -> variant A
        k0 = _num(p, "k", _num(p, "k_0", 1.0))
        if lat_ts is None:
            # EPSG method 9810 variant A (+k_0 at the pole; UPS)
            if not 0.0 < k0 <= 1.0:
                raise NotImplementedError(
                    "stere: +k_0 must be in (0, 1]")
        elif k0 != 1.0:
            raise NotImplementedError(
                "stere: +lat_ts together with +k_0 is ambiguous")
        for code, t in R.PS_PARAMS.items():
            if not code.startswith("EPSG:"):
                continue
            ts_c = t[1]
            fe_c, fn_c = (t[3], t[4]) if len(t) > 3 else (0.0, 0.0)
            k_c = t[5] if len(t) > 5 else None
            if (t[0] == south and t[2] == lon0 and fe_c == x0
                    and fn_c == y0
                    and ((ts_c is None and lat_ts is None
                          and k_c == k0)
                         or (ts_c is not None
                             and ts_c == lat_ts))):
                return code
        if lat_ts is not None and not x0 and not y0:
            # the historical 3-tuple key shape (bit-exact constants)
            return _register(R.PS_PARAMS, "stere",
                             (south, lat_ts, lon0))
        return _register(R.PS_PARAMS, "stere",
                         (south, lat_ts, lon0, x0, y0,
                          None if lat_ts is not None else k0))

    if proj == "merc":
        k = _num(p, "k", _num(p, "k_0", 1.0))
        lat_ts = _num(p, "lat_ts")
        lon0 = _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        if math.isinf(rf) and abs(a - 6_378_137.0) < 1e-3:
            if not lat_ts and not lon0 and not x0 and not y0 \
                    and k == 1.0:
                return "EPSG:3857"
            raise NotImplementedError(
                "merc: spherical form only as web-mercator defaults")
        if abs(rf - _WGS84_RF) < 1e-3 and abs(a - 6_378_137.0) < 1e-3:
            if k != 1.0:
                # variant A (+k_0): restate as variant B — m(lat_ts)
                # = k0 has the closed-form solve sin^2(phi) =
                # (1-k0^2)/(1-e^2*k0^2), so the registered transform
                # is numerically the k0 form (ak = a*m(lat_ts) = a*k0)
                if lat_ts:
                    raise NotImplementedError(
                        "merc: +k_0 together with +lat_ts is "
                        "ambiguous")
                if not 0.0 < k <= 1.0:
                    raise NotImplementedError(
                        "merc: +k_0 must be in (0, 1] (m(phi) <= 1 "
                        "on the ellipsoid)")
                es = _WGS84_E2
                lat_ts = math.degrees(math.asin(math.sqrt(
                    (1.0 - k * k) / (1.0 - es * k * k))))
            # ellipsoidal Mercator (Snyder 7-7; EPSG:3395 family)
            return _register(R.MERC_PARAMS, "merc",
                             (lat_ts, lon0, x0, y0))
        raise NotImplementedError(
            "merc: only WGS84 or the spherical web form is supported")

    if proj == "sinu":
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "sinu: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("sinu: spherical only (+R/+a)")
        key = f"PROJ:SINU:{a!r}".upper()
        R.SINU_PARAMS[key] = a
        return key

    if proj == "moll":
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "moll: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("moll: spherical only (+R/+a)")
        key = f"PROJ:MOLL:{a!r}".upper()
        R.MOLL_PARAMS[key] = a
        return key

    if proj in ("eck4", "mill", "vandg", "robin"):
        # the spherical world/atlas projections (ESRI:54012 Eckert
        # IV, 54003 Miller, 54029 Van der Grinten I, 54030 Robinson)
        # — same contract as moll: sphere on +R/+a, no offsets
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                f"{proj}: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError(
                f"{proj}: spherical only (+R/+a)")
        table = {"eck4": R.ECK4_PARAMS, "mill": R.MILL_PARAMS,
                 "vandg": R.VANDG_PARAMS,
                 "robin": R.ROBIN_PARAMS}[proj]
        esri = {"eck4": "ESRI:54012", "mill": "ESRI:54003",
                "vandg": "ESRI:54029", "robin": "ESRI:54030"}[proj]
        if a == table[esri]:
            return esri
        key = f"PROJ:{proj.upper()}:{a!r}".upper()
        table[key] = a
        return key

    if proj == "hammer":
        # Hammer(-Aitoff) equal-area world (spherical, like natearth;
        # PROJ's +W/+M generalization is not supported — classic form)
        if "w" in p or "m" in p:
            raise NotImplementedError(
                "hammer: the +W/+M generalized form is not supported")
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "hammer: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("hammer: spherical only (+R/+a)")
        if a == R.HAMMER_PARAMS["PROJ:HAMMER"]:
            return "PROJ:HAMMER"
        key = f"PROJ:HAMMER:{a!r}".upper()
        R.HAMMER_PARAMS[key] = a
        return key

    if proj == "igh":
        # interrupted Goode homolosine (spherical, like every Goode
        # implementation; the canonical WGS84-semimajor member is
        # PROJ:IGH — ESRI:54052 stays on the pyproj fallback because
        # its datum handling is implementation-defined)
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "igh: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("igh: spherical only (+R/+a)")
        if a == R.IGH_PARAMS["PROJ:IGH"]:
            return "PROJ:IGH"
        key = f"PROJ:IGH:{a!r}".upper()
        R.IGH_PARAMS[key] = a
        return key

    if proj == "wintri":
        # Winkel Tripel (spherical; ESRI:54042 on the WGS84 semimajor
        # with PROJ's default standard parallel cos(phi1) = 2/pi;
        # +lat_1 parameterizes phi1 like PROJ)
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "wintri: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("wintri: spherical only (+R/+a)")
        cp1 = (math.cos(math.radians(_num(p, "lat_1")))
               if "lat_1" in p else 2.0 / math.pi)
        if abs(cp1 - 2.0 / math.pi) < 1e-12:
            cp1 = 2.0 / math.pi  # snap the degrees->cos round trip
        if (a, cp1) == R.WINTRI_PARAMS["ESRI:54042"]:
            return "ESRI:54042"
        key = f"PROJ:WINTRI:{a!r}:{cp1!r}".upper()
        R.WINTRI_PARAMS[key] = (a, cp1)
        return key

    if proj == "natearth":
        # Natural Earth polynomial (spherical only, like eck4 above);
        # the canonical WGS84-semimajor member is PROJ:NATEARTH
        if _num(p, "lon_0") or _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "natearth: nonzero +lon_0/+x_0/+y_0 not supported")
        if not math.isinf(rf):
            raise NotImplementedError("natearth: spherical only (+R/+a)")
        if a == R.NATEARTH_PARAMS["PROJ:NATEARTH"]:
            return "PROJ:NATEARTH"
        key = f"PROJ:NATEARTH:{a!r}".upper()
        R.NATEARTH_PARAMS[key] = a
        return key

    if proj == "geos":
        if "h" not in p:
            raise ValueError("geos requires +h (satellite height)")
        sweep = p.get("sweep", "y").lower()
        if sweep not in ("x", "y"):
            raise ValueError(f"geos: bad +sweep={sweep!r}")
        if _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "geos: nonzero +x_0/+y_0 not supported")
        return _register(
            R.GEOS_PARAMS, "geos",
            (float(p["h"]), _num(p, "lon_0"), sweep == "x", a, rf))

    if proj in ("aeqd", "ortho", "gnom"):
        if not math.isinf(rf):
            raise NotImplementedError(
                f"{proj}: spherical only (+R or +a with no "
                "flattening); the ellipsoidal form needs geodesics")
        table = {"aeqd": R.AEQD_PARAMS, "ortho": R.ORTHO_PARAMS,
                 "gnom": R.GNOM_PARAMS}[proj]
        return _register(
            table, proj,
            (a, _num(p, "lat_0"), _num(p, "lon_0"),
             _num(p, "x_0"), _num(p, "y_0")))

    if proj == "nsper":
        if not math.isinf(rf):
            raise NotImplementedError(
                "nsper: spherical only (+R or +a with no flattening)")
        if "h" not in p:
            raise ValueError("nsper requires +h (viewpoint height)")
        return _register(
            R.NSPER_PARAMS, "nsper",
            (a, float(p["h"]), _num(p, "lat_0"), _num(p, "lon_0"),
             _num(p, "x_0"), _num(p, "y_0")))

    if proj == "eqc":
        if _num(p, "lat_0"):
            raise NotImplementedError("eqc: nonzero +lat_0 not supported")
        lat_ts = _num(p, "lat_ts")
        lon0 = _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        if lat_ts == 0.0 and lon0 == 0.0 and x0 == 0.0 and y0 == 0.0:
            if a == 6_371_007.0 and math.isinf(rf):
                return "EPSG:4088"  # sphere, method 1029
            if (abs(a - 6_378_137.0) < 1e-3
                    and abs(rf - _WGS84_RF) < 1e-6):
                return "EPSG:4087"  # WGS84 ellipsoid, method 1028
        return _register(R.EQC_PARAMS, "eqc",
                         (a, rf, lat_ts, lon0, x0, y0))

    if proj == "eqdc":
        lat1 = _num(p, "lat_1")
        lat2 = _num(p, "lat_2", lat1)
        if lat1 == 0.0 and lat2 == 0.0:
            raise NotImplementedError(
                "eqdc: equatorial standard parallels degenerate "
                "(n = 0) — use +proj=eqc")
        if not math.isinf(rf) and lat1 == lat2:
            raise NotImplementedError(
                "eqdc (ellipsoidal): coincident standard parallels "
                "are not supported (give lat_1 != lat_2, or a sphere)")
        return _register(
            R.EQDC_PARAMS, "eqdc",
            (a, rf, lat1, lat2, _num(p, "lat_0"), _num(p, "lon_0"),
             _num(p, "x_0"), _num(p, "y_0")))

    if proj == "cea":
        # Lambert cylindrical equal-area (EPSG method 9835); formulas
        # are generic in (a, rf) so any ellipsoid/sphere is accepted
        k = p.get("k") or p.get("k_0")
        if k is not None and float(k) != 1.0:
            raise NotImplementedError(
                "cea: the +k_0 scale form is not supported; use the "
                "+lat_ts standard-parallel form")
        lat_ts = _num(p, "lat_ts")
        lon0 = _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        if (abs(a - 6_378_137.0) < 1e-3 and abs(rf - _WGS84_RF) < 1e-6
                and lon0 == 0.0 and x0 == 0.0 and y0 == 0.0):
            if lat_ts == 30.0:
                return "EPSG:6933"   # EASE-Grid 2.0 Global
            if lat_ts == 0.0:
                return "ESRI:54034"
        return _register(R.CEA_PARAMS, "cea",
                         (a, rf, lat_ts, lon0, x0, y0))

    if proj == "sterea":
        # oblique (double) stereographic, EPSG method 9809
        lat0, lon0 = _num(p, "lat_0"), _num(p, "lon_0")
        k0 = _num(p, "k", _num(p, "k_0", 1.0))
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        rd = R.STEREA_PARAMS["EPSG:28992"]
        if (abs(a - rd[0]) < 1e-3 and abs(rf - rd[1]) < 1e-6
                and abs(lat0 - rd[2]) < 1e-9 and abs(lon0 - rd[3]) < 1e-9
                and k0 == rd[4] and x0 == rd[5] and y0 == rd[6]):
            return "EPSG:28992"  # RD New's own parameters
        return _register(R.STEREA_PARAMS, "sterea",
                         (a, rf, lat0, lon0, k0, x0, y0))

    if proj == "somerc":
        # Swiss oblique Mercator (double projection); +towgs84 (the
        # published CH1903 translation, or any 3/7-param position-
        # vector set) composes a WGS84 datum hop exactly as the
        # canonical EPSG:2056/21781 entries do
        lat0, lon0 = _num(p, "lat_0"), _num(p, "lon_0")
        k0 = _num(p, "k", _num(p, "k_0", 1.0))
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        towgs84 = _towgs84(p)
        for code in ("EPSG:21781", "EPSG:2056"):
            t = R.SOMERC_PARAMS[code]
            if (abs(a - t[0]) < 1e-3 and abs(rf - t[1]) < 1e-6
                    and abs(lat0 - t[2]) < 1e-9
                    and abs(lon0 - t[3]) < 1e-9 and k0 == t[4]
                    and x0 == t[5] and y0 == t[6]
                    and towgs84 == t[7]):
                return code
        return _register(R.SOMERC_PARAMS, "somerc",
                         (a, rf, lat0, lon0, k0, x0, y0, towgs84))

    if proj == "krovak":
        # PROJ defaults the whole S-JTSK parameter set when omitted
        lat0 = _num(p, "lat_0", 49.5)
        lon0 = _num(p, "lon_0", 24.0 + 50.0 / 60.0)
        alpha = _num(p, "alpha",
                     30.0 + 17.0 / 60.0 + 17.3031 / 3600.0)
        phip = _num(p, "lat_1", 78.5)
        k0 = _num(p, "k", _num(p, "k_0", 0.9999))
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        czech = "czech" in p
        towgs84 = _towgs84(p)
        t = R.KROVAK_PARAMS["EPSG:5514"]
        if (abs(a - t[0]) < 1e-3 and abs(rf - t[1]) < 1e-6
                and lat0 == t[2] and abs(lon0 - t[3]) < 1e-9
                and abs(alpha - t[4]) < 1e-6 and phip == t[5]
                and k0 == t[6] and x0 == t[7] and y0 == t[8]
                and not czech and towgs84 == t[10]):
            return "EPSG:5514"
        return _register(R.KROVAK_PARAMS, "krovak",
                         (a, rf, lat0, lon0, alpha, phip, k0,
                          x0, y0, czech, towgs84))

    if proj == "cass":
        lat0, lon0 = _num(p, "lat_0"), _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        t = R.CASS_PARAMS["EPSG:30200"]
        if (abs(a - t[0]) < 1e-2 and abs(rf - t[1]) < 1e-6
                and abs(lat0 - t[2]) < 1e-9 and abs(lon0 - t[3]) < 1e-9
                and x0 == t[4] and y0 == t[5]):
            return "EPSG:30200"
        if not math.isfinite(rf):
            raise NotImplementedError(
                "cass: spherical form not implemented (give an "
                "ellipsoid with finite flattening)")
        return _register(R.CASS_PARAMS, "cass",
                         (a, rf, lat0, lon0, x0, y0))

    if proj == "poly":
        if not math.isfinite(rf):
            raise NotImplementedError(
                "poly: spherical form not implemented (give an "
                "ellipsoid with finite flattening)")
        lat0, lon0 = _num(p, "lat_0"), _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        towgs84 = _towgs84(p)
        t = R.POLY_PARAMS["EPSG:29101"]
        if (abs(a - t[0]) < 1e-3 and abs(rf - t[1]) < 1e-6
                and lat0 == t[2] and lon0 == t[3]
                and x0 == t[4] and y0 == t[5] and towgs84 is None):
            return "EPSG:29101"
        return _register(R.POLY_PARAMS, "poly",
                         (a, rf, lat0, lon0, x0, y0, towgs84))

    if proj == "eqearth":
        lon0 = _num(p, "lon_0")
        x0, y0 = _num(p, "x_0"), _num(p, "y_0")
        t = R.EQEARTH_PARAMS["EPSG:8857"]
        if (abs(a - t[0]) < 1e-3
                and math.isfinite(rf) and abs(rf - t[1]) < 1e-6
                and lon0 == t[2] and x0 == t[3] and y0 == t[4]):
            return "EPSG:8857"
        return _register(R.EQEARTH_PARAMS, "eqearth",
                         (a, rf, lon0, x0, y0))

    if proj == "omerc":
        # Hotine oblique Mercator (EPSG 9812 variant A with
        # +no_uoff, else 9815 variant B); the two-point form
        # (+lon_1/+lat_1/+lon_2/+lat_2) is not supported
        if "lat_1" in p or "lon_1" in p:
            raise NotImplementedError(
                "omerc: the two-point form is not supported; give "
                "+alpha (and optionally +gamma)")
        if "alpha" not in p:
            raise NotImplementedError("omerc needs +alpha")
        alpha = float(p["alpha"])
        gamma = float(p.get("gamma", p["alpha"]))
        return _register(
            R.OMERC_PARAMS, "omerc",
            (a, rf, _num(p, "lat_0"),
             _num(p, "lonc", _num(p, "lon_0")), alpha, gamma,
             _num(p, "k", _num(p, "k_0", 1.0)),
             _num(p, "x_0"), _num(p, "y_0"), "no_uoff" in p))

    if proj == "ob_tran":
        o_proj = p.get("o_proj", "").lower()
        if o_proj not in ("longlat", "latlong", "lonlat", "latlon"):
            raise NotImplementedError(
                "ob_tran: only +o_proj=longlat (rotated pole) has "
                "closed-form Column math here")
        if "to_meter" in p:
            # pyproj's CF export writes +to_meter=pi/180, i.e. grid
            # coords in degrees — our family's native unit; anything
            # else would change the coordinate scale
            if abs(float(p["to_meter"]) - math.radians(1.0)) > 1e-15:
                raise NotImplementedError(
                    "ob_tran: only +to_meter=0.0174532925199433 "
                    "(degrees) supported")
        if _num(p, "x_0") or _num(p, "y_0"):
            raise NotImplementedError(
                "ob_tran: nonzero +x_0/+y_0 not supported")
        # the rotation is purely angular; the ellipsoid passes through
        return _register(
            R.ROTPOLE_PARAMS, "ob_tran",
            (_num(p, "o_lat_p", 90.0),       # grid_north_pole_latitude
             _num(p, "lon_0") - 180.0,       # grid_north_pole_longitude
             _num(p, "o_lon_p")))            # north_pole_grid_longitude

    raise NotImplementedError(
        f"+proj={proj}: no closed-form Column family implemented "
        "(supported: longlat, utm, tmerc, lcc, aea, laea, stere, "
        "sterea, somerc, krovak, eqearth, cass, poly, merc, geos, "
        "sinu, moll, eck4, mill, vandg, robin, hammer, wintri, igh, "
        "natearth, "
        "ob_tran[longlat], cea, aeqd[sph], ortho[sph], gnom[sph], eqc, "
        "eqdc, omerc)")


def _cf_ellipsoid(attrs: Mapping) -> tuple[float, float]:
    """(a, rf) from CF datum attributes; default WGS84."""
    if "earth_radius" in attrs:
        return float(attrs["earth_radius"]), math.inf
    a = float(attrs.get("semi_major_axis", 6_378_137.0))
    if "inverse_flattening" in attrs:
        rf = float(attrs["inverse_flattening"])
        return a, (math.inf if rf == 0.0 else rf)
    if "semi_minor_axis" in attrs:
        b = float(attrs["semi_minor_axis"])
        return a, (math.inf if b == a else a / (a - b))
    if "semi_major_axis" in attrs:
        return a, math.inf
    return a, _WGS84_RF


def _std_parallels(attrs: Mapping) -> list[float]:
    sp = attrs.get("standard_parallel")
    if sp is None:
        return []
    if isinstance(sp, (list, tuple)):
        return [float(v) for v in sp]
    return [float(sp)]


def crs_from_cf(attrs: Mapping) -> str:
    """Resolve CF grid-mapping attributes (CF conventions §5.6 +
    appendix F; the reference's `pyproj.CRS.from_cf` seam at
    cfconv.py:211) to a CRS key for `get_transform`."""
    name = attrs.get("grid_mapping_name")
    if not name:
        raise ValueError("attrs lack 'grid_mapping_name'")
    a, rf = _cf_ellipsoid(attrs)

    def num(key: str, default: float = 0.0) -> float:
        return float(attrs.get(key, default))

    p: dict[str, str] = {}

    def put(k: str, v: float) -> None:
        p[k] = repr(v)

    put("a", a)
    if math.isfinite(rf):
        put("rf", rf)
    put("x_0", num("false_easting"))
    put("y_0", num("false_northing"))

    if name == "latitude_longitude":
        return "EPSG:4326"
    if name == "transverse_mercator":
        p["proj"] = "tmerc"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
        put("k", num("scale_factor_at_central_meridian", 1.0))
    elif name == "lambert_conformal_conic":
        sps = _std_parallels(attrs)
        if not sps:
            raise NotImplementedError(
                "lambert_conformal_conic needs standard_parallel "
                "(one value: 1-SP tangent cone; two: 2-SP)")
        p["proj"] = "lcc"
        put("lat_1", sps[0])
        if len(sps) == 2:
            put("lat_2", sps[1])
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "albers_conical_equal_area":
        sps = _std_parallels(attrs)
        if len(sps) != 2:
            raise NotImplementedError(
                "albers_conical_equal_area needs two "
                "standard_parallel values")
        p["proj"] = "aea"
        put("lat_1", sps[0])
        put("lat_2", sps[1])
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "lambert_azimuthal_equal_area":
        p["proj"] = "laea"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
    elif name == "polar_stereographic":
        p["proj"] = "stere"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("straight_vertical_longitude_from_pole"))
        sps = _std_parallels(attrs)
        if sps:
            put("lat_ts", sps[0])
        elif "scale_factor_at_projection_origin" in attrs:
            # variant A (+k_0 at the pole — the UPS form)
            put("k", num("scale_factor_at_projection_origin"))
    elif name == "geostationary":
        if "perspective_point_height" not in attrs:
            raise ValueError(
                "geostationary needs perspective_point_height")
        if num("latitude_of_projection_origin"):
            raise NotImplementedError(
                "geostationary: nonzero latitude_of_projection_origin "
                "not supported")
        p["proj"] = "geos"
        p["h"] = repr(float(attrs["perspective_point_height"]))
        put("lon_0", num("longitude_of_projection_origin"))
        sweep = attrs.get("sweep_angle_axis")
        if sweep is None and "fixed_angle_axis" in attrs:
            # CF: fixed axis is the OTHER axis
            sweep = "x" if attrs["fixed_angle_axis"] == "y" else "y"
        p["sweep"] = str(sweep or "y")
    elif name == "sinusoidal":
        if num("longitude_of_projection_origin"):
            raise NotImplementedError(
                "sinusoidal: nonzero longitude_of_projection_origin "
                "not supported")
        p["proj"] = "sinu"
    elif name == "mollweide":
        if num("longitude_of_projection_origin"):
            raise NotImplementedError(
                "mollweide: nonzero longitude_of_projection_origin "
                "not supported")
        p["proj"] = "moll"
    elif name in ("eckert_iv", "miller_cylindrical", "van_der_grinten",
                  "natural_earth", "robinson", "hammer",
                  "winkel_tripel", "interrupted_goode_homolosine"):
        # our writer's CF extension for the spherical world/atlas
        # projections (no CF appendix entry, like mollweide above)
        if num("longitude_of_projection_origin"):
            raise NotImplementedError(
                f"{name}: nonzero longitude_of_projection_origin "
                "not supported")
        p["proj"] = {"eckert_iv": "eck4",
                     "miller_cylindrical": "mill",
                     "van_der_grinten": "vandg",
                     "natural_earth": "natearth",
                     "robinson": "robin",
                     "hammer": "hammer",
                     "winkel_tripel": "wintri",
                     "interrupted_goode_homolosine": "igh"}[name]
        if name == "winkel_tripel" and num("standard_parallel"):
            put("lat_1", num("standard_parallel"))
    elif name in ("azimuthal_equidistant", "orthographic", "gnomonic"):
        p["proj"] = {"azimuthal_equidistant": "aeqd",
                     "orthographic": "ortho",
                     "gnomonic": "gnom"}[name]
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
    elif name == "oblique_mercator":
        if "azimuth_of_central_line" not in attrs:
            raise NotImplementedError(
                "oblique_mercator needs azimuth_of_central_line")
        p["proj"] = "omerc"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lonc", num("longitude_of_projection_origin"))
        put("alpha", num("azimuth_of_central_line"))
        # CF has no rectified-skew attr; PROJ's gamma defaults to
        # alpha, so decode follows — unless our writer recorded it
        if "rectified_grid_angle" in attrs:
            put("gamma", num("rectified_grid_angle"))
        put("k", num("scale_factor_at_projection_origin", 1.0))
    elif name == "vertical_perspective":
        if "perspective_point_height" not in attrs:
            raise ValueError(
                "vertical_perspective needs perspective_point_height")
        p["proj"] = "nsper"
        p["h"] = repr(float(attrs["perspective_point_height"]))
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
    elif name == "stereographic":
        # CF general stereographic: spherical datums resolve onto the
        # Snyder ch. 21 family; ellipsoidal oblique is rejected in
        # resolve_proj4 (use oblique_stereographic / polar_stereographic)
        p["proj"] = "stere"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
        put("k", num("scale_factor_at_projection_origin", 1.0))
    elif name == "equidistant_conic":
        sps = _std_parallels(attrs)
        if not sps:
            raise NotImplementedError(
                "equidistant_conic needs standard_parallel")
        p["proj"] = "eqdc"
        put("lat_1", sps[0])
        put("lat_2", sps[1] if len(sps) == 2 else sps[0])
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "lambert_cylindrical_equal_area":
        if "scale_factor_at_projection_origin" in attrs:
            raise NotImplementedError(
                "lambert_cylindrical_equal_area: scale_factor form "
                "not supported; provide standard_parallel")
        p["proj"] = "cea"
        sps = _std_parallels(attrs)
        if sps:
            put("lat_ts", sps[0])
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "swiss_oblique_cylindrical":
        # the GeoTIFF CT name for the Swiss double projection (CF's
        # appendix has no entry; this is the spelling Swiss products
        # carry in the wild)
        p["proj"] = "somerc"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
        put("k", num("scale_factor_at_projection_origin", 1.0))
    elif name == "polyconic":
        p["proj"] = "poly"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "cassini_soldner":
        p["proj"] = "cass"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
    elif name == "equal_earth":
        p["proj"] = "eqearth"
        put("lon_0", num("longitude_of_projection_origin"))
    elif name == "krovak":
        # GDAL's WKT spelling; CF's appendix has no Krovak entry.
        # longitude is the Greenwich-referenced cone-axis meridian
        # (42°30' east of Ferro for S-JTSK)
        p["proj"] = "krovak"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_central_meridian"))
        put("alpha", num("azimuth_of_central_line"))
        put("lat_1", num("latitude_of_pseudo_standard_parallel"))
        put("k", num("scale_factor_at_pseudo_standard_parallel", 1.0))
    elif name == "oblique_stereographic":
        # pyproj's CF name for EPSG method 9809 (not in the CF
        # appendix, which has no entry for the double stereographic)
        p["proj"] = "sterea"
        put("lat_0", num("latitude_of_projection_origin"))
        put("lon_0", num("longitude_of_projection_origin"))
        put("k", num("scale_factor_at_projection_origin", 1.0))
    elif name == "rotated_latitude_longitude":
        if "grid_north_pole_latitude" not in attrs:
            raise ValueError(
                "rotated_latitude_longitude needs "
                "grid_north_pole_latitude")
        p["proj"] = "ob_tran"
        p["o_proj"] = "longlat"
        put("o_lat_p", num("grid_north_pole_latitude"))
        put("lon_0", num("grid_north_pole_longitude") + 180.0)
        put("o_lon_p", num("north_pole_grid_longitude"))
    elif name == "mercator":
        p["proj"] = "merc"
        if "scale_factor_at_projection_origin" in attrs:
            # variant A: restated as variant B in resolve_proj4's
            # closed-form m(lat_ts) = k0 solve
            put("k", num("scale_factor_at_projection_origin"))
        else:
            sps = _std_parallels(attrs)
            if sps:
                put("lat_ts", sps[0])
        put("lon_0", num("longitude_of_projection_origin"))
    else:
        raise NotImplementedError(
            f"grid_mapping_name={name!r}: no closed-form Column "
            "family implemented")

    if "towgs84" in attrs:
        vals = attrs["towgs84"]
        vals = [float(v) for v in (
            [vals] if isinstance(vals, (int, float)) else vals)]
        if any(vals):
            if p.get("proj") not in ("somerc", "krovak", "poly"):
                raise NotImplementedError(
                    "towgs84 datum shift is only composed for the "
                    "somerc/krovak/poly families; other grid "
                    "mappings would silently ignore it")
            p["towgs84"] = ",".join(repr(v) for v in vals)

    # hand off through the PROJ.4 resolver so family validation and
    # registration live in exactly one place
    parts = [f"+proj={p.pop('proj')}"]
    parts += [f"+{k}={v}" for k, v in p.items()]
    return resolve_proj4(" ".join(parts))


def resolve_crs(crs) -> str:
    """Normalize any supported CRS spelling to a registry key:
    authority strings pass through, ``+proj=…`` strings and CF
    attribute mappings are parsed and registered."""
    if isinstance(crs, Mapping):
        return crs_from_cf(crs)
    s = str(crs).strip()
    if s.startswith("+"):
        return resolve_proj4(s)
    return s
