"""Thin HTTP serving facade over the cube operators — the repo's
answer to ``xcube serve`` (reference ``xcube/server/server.py:36`` +
``xcube/webapi/**``), deliberately small: URL grammar and response
shapes follow the reference's route table, while every computation
dispatches to the already-oracle-checked operators
(``operators/{tiles,coverages,statistics,timeseries}.py``).

Routes (reference parity):

=====================================================  ==============
``GET /``                                              meta/routes.py:17
``GET /datasets``                                      datasets/routes.py:72
``GET /datasets/{ds}``                                 datasets/routes.py:121
``GET /datasets/{ds}/coords/{dim}``                    datasets/routes.py:141
``GET /tiles/{ds}/{var}/{z}/{y}/{x}``                  tiles/routes.py:86
``GET /timeseries/{ds}/{var}``                         timeseries/routes.py:23
``GET /statistics/{ds}/{var}``                         statistics/routes.py:46
``GET /ogc/collections/{ds}/coverage``                 ows/coverages/routes.py:27
``GET /places``                                        places/routes.py:19
``GET /places/{placeGroupId}``                         places/routes.py:30
``GET /colorbars``                                     styles (ex-datasets) api
``GET /expressions/capabilities``                      expressions/routes.py:20
``GET /expressions/validate/{ds}/{expr}``              expressions/routes.py:33
``GET /wmts/1.0.0/WMTSCapabilities.xml``               ows/wmts/routes.py:78
``GET /wmts/1.0.0/tile/{ds}/{var}/{z}/{y}/{x}.png``    ows/wmts/routes.py:119
``GET /wmts/kvp?...``                                  ows/wmts/routes.py:178
``GET /ogc`` (+conformance/collections/items)          ows/stac/routes.py:25-131
``GET /compute/operations[/{opId}]``                   compute/routes.py:172,184
``GET|PUT /compute/jobs[/{jobId}]``                    compute/routes.py:197,256
``GET /s3/{bucket}``                                   s3/routes.py:104
``GET /s3/{bucket}/{key...}``                          s3/routes.py:149
=====================================================  ==============

Scale notes: the server holds DataFrames, not data — every request
plans a Spark job whose filters (tile bbox, point cell, time range)
push down to the scan, and only response-sized results (the cells of
a 256x256 tile, a per-timestep series, a single stats row) reach the
driver.  A tile is one filtered cube scan: the driver computes which
cell each pixel column and row shows (the pixel -> cell map is
separable), collects at most one row per needed cell — at most
``tile_size**2`` — and gathers the pixels from them with numpy.
Stdlib ``ThreadingHTTPServer`` only — this container has no web
framework, and the point is the dispatch surface, not the HTTP stack.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Mapping
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid


@dataclass
class _Dataset:
    cube: DataFrame
    grid: CubeGrid
    title: str = ""


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _iso(ts) -> str:
    if isinstance(ts, datetime):
        return ts.replace(tzinfo=None).isoformat() + "Z"
    return str(ts)


def _t_index(grid: CubeGrid, t: datetime) -> int:
    days = (t - grid.t_start).total_seconds() / 86400.0
    i = int(days // grid.t_freq_days)
    if not 0 <= i < grid.time_periods:
        raise ApiError(404, f"time {t.isoformat()} outside the dataset")
    return i


def _time_end(grid: CubeGrid) -> datetime:
    from datetime import timedelta

    return grid.t_start + timedelta(
        days=grid.time_periods * grid.t_freq_days)


def _interp_stops(stops, p: float) -> tuple[int, int, int]:
    """Piecewise-linear colormap sample at p in [0,1] (driver-side
    twin of tiles._stop_channel_expr, used only for 256-px legends)."""
    if p <= stops[0][0]:
        return stops[0][1]
    for (p0, c0), (p1, c1) in zip(stops, stops[1:]):
        if p <= p1:
            f = (p - p0) / (p1 - p0) if p1 > p0 else 0.0
            return tuple(int(round(a + f * (b - a)))
                         for a, b in zip(c0, c1))
    return stops[-1][1]


def _parse_time(s: str) -> datetime:
    s = s.rstrip("Z")
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ApiError(400, f"invalid timestamp {s!r}")


class CubeServer:
    """Route table + dispatch.  Register cubes with
    :meth:`add_dataset`, then :meth:`start` (tests use port 0)."""

    def __init__(self, spark, auth: dict | None = None,
                 colormap_files: list[str] | None = None):
        """``auth`` (webapi/auth parity, config.py AuthConfig):
        ``{"api_keys": [...]}`` and/or ``{"jwt_secret": "...",
        "audience": "...", "required_scopes": [...]}`` — requests then
        need ``Authorization: Bearer <key-or-HS256-JWT>``.  ``None``
        (the default) serves openly, like a reference deployment with
        no Authentication block.

        ``colormap_files``: SNAP ``*.cpd`` palettes loaded into the
        colormap registry at startup (the reference serve config's
        ``CustomColorMaps``, util/cmaps.py:666)."""
        if colormap_files:
            from xcube_spark.operators.tiles import load_snap_cpd_colormap

            for p in colormap_files:
                load_snap_cpd_colormap(p)
        self.spark = spark
        self.auth = auth
        self.datasets: dict[str, _Dataset] = {}
        self.place_groups: dict[str, tuple[DataFrame, str]] = {}
        self.jobs: dict[int, dict] = {}
        self.cubegens: dict[int, dict] = {}
        self._job_seq = 0
        # requests run on ThreadingHTTPServer worker threads: id
        # allocation must be atomic or two concurrent PUTs can claim
        # the same id and silently overwrite each other's job dict
        self._job_seq_lock = threading.Lock()
        self._s3_cache: dict[str, str] = {}
        self._httpd: ThreadingHTTPServer | None = None

    # ---- auth (webapi/auth/context.py:21-150, HS256 profile) ------------

    def check_auth(self, headers: Mapping[str, str] | None) -> None:
        """Raise 401/403 unless the request carries a valid bearer
        credential.  JWTs are verified with stdlib HMAC-SHA256
        (signature, ``exp``, optional ``aud``) and their ``scope``
        claim is checked against ``required_scopes`` — the granted-
        scopes model of the reference's ``get_granted_scopes``."""
        if not self.auth:
            return
        h = {k.lower(): v for k, v in (headers or {}).items()}
        bearer = h.get("authorization", "")
        if not bearer.startswith("Bearer "):
            raise ApiError(401, "missing Authorization: Bearer header")
        token = bearer[7:].strip()
        if token in self.auth.get("api_keys", ()):
            return
        secret = self.auth.get("jwt_secret")
        if not secret:
            raise ApiError(401, "invalid API key")
        self._verify_jwt(token, secret)

    def _verify_jwt(self, token: str, secret: str) -> dict:
        import base64
        import hashlib
        import hmac
        import time as _time

        def b64d(s: str) -> bytes:
            return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))

        try:
            head_b64, payload_b64, sig_b64 = token.split(".")
            header = json.loads(b64d(head_b64))
            payload = json.loads(b64d(payload_b64))
            sig = b64d(sig_b64)
        except Exception:
            raise ApiError(401, "malformed JWT")
        if header.get("alg") != "HS256":
            raise ApiError(401, f"unsupported alg {header.get('alg')!r}")
        want = hmac.new(secret.encode(),
                        f"{head_b64}.{payload_b64}".encode(),
                        hashlib.sha256).digest()
        if not hmac.compare_digest(sig, want):
            raise ApiError(401, "bad JWT signature")
        if "exp" in payload and payload["exp"] < _time.time():
            raise ApiError(401, "token expired")
        aud = self.auth.get("audience")
        if aud and payload.get("aud") != aud:
            raise ApiError(401, "wrong audience")
        need = set(self.auth.get("required_scopes", ()))
        got = set(str(payload.get("scope", "")).split())
        if need - got:
            raise ApiError(
                403, f"missing scope(s): {' '.join(sorted(need - got))}")
        return payload

    def add_dataset(self, ds_id: str, cube: DataFrame, grid: CubeGrid,
                    title: str = "") -> None:
        self.datasets[ds_id] = _Dataset(cube, grid, title or ds_id)

    def add_place_group(self, group_id: str, features: DataFrame,
                        title: str = "") -> None:
        """Register a features table (WKT ``geometry`` + attribute
        columns) as a place group (webapi/places/context.py)."""
        self.place_groups[group_id] = (features, title or group_id)

    # ---- dispatch -------------------------------------------------------

    def handle(self, path: str, params: dict[str, str],
               headers: Mapping[str, str] | None = None) \
            -> tuple[int, str, bytes]:
        """(path, query[, headers]) -> (status, content_type, body)."""
        try:
            self.check_auth(headers)
            seg = [s for s in path.split("/") if s]
            if not seg:
                return self._json(self._service_info())
            if seg[0] == "places":
                if len(seg) == 1:
                    return self._json(self._list_place_groups())
                if len(seg) == 2:
                    return self._json(self._places(seg[1], params))
            if seg == ["colorbars"]:
                return self._json(self._colorbars())
            if seg[0] == "expressions":
                if seg[1:] == ["capabilities"]:
                    return self._json(self._expr_capabilities())
                if len(seg) >= 4 and seg[1] == "validate":
                    # the expression is the raw tail of the path
                    expr = path.split("/validate/", 1)[1]
                    expr = expr.split("/", 1)[1]
                    return self._json(self._expr_validate(seg[2], expr))
            if seg[0] == "wmts":
                return self._wmts(seg, params)
            if seg[0] == "ogc":
                r = self._stac(seg, params)
                if r is not None:
                    return self._json(r)
            if seg[0] == "compute":
                return self._json(self._compute_get(seg))
            if seg[0] == "cubegens":
                return self._json(self._cubegen_get(seg))
            if seg[0] == "s3":
                return self._s3(seg, params)
            if seg == ["viewer", "config"]:
                return self._json(self._viewer_config())
            if seg == ["datasets"]:
                return self._json(self._list_datasets())
            if len(seg) == 2 and seg[0] == "datasets":
                return self._json(self._describe(seg[1]))
            if len(seg) == 4 and seg[0] == "datasets" and seg[2] == "coords":
                return self._json(self._coords(seg[1], seg[3]))
            if len(seg) == 6 and seg[0] == "tiles":
                return (200, "image/png",
                        self._tile(seg[1], seg[2], int(seg[3]),
                                   int(seg[4]), int(seg[5]), params))
            if len(seg) == 3 and seg[0] == "timeseries":
                return self._json(self._timeseries(seg[1], seg[2], params))
            if len(seg) == 3 and seg[0] == "statistics":
                return self._json(self._statistics(seg[1], seg[2], params))
            if (len(seg) == 4 and seg[0] == "ogc"
                    and seg[1] == "collections" and seg[3] == "coverage"):
                return self._json(self._coverage(seg[2], params))
            if len(seg) == 3 and seg[0] == "volumes":
                return (200, "application/octet-stream",
                        self._volume(seg[1], seg[2], params))
            raise ApiError(404, f"unknown route {path!r}")
        except ApiError as e:
            return (e.status, "application/json",
                    json.dumps({"error": {"status": e.status,
                                          "message": str(e)}}).encode())
        except (KeyError, ValueError, IndexError, TypeError) as e:
            # Malformed client input (missing KVP params, non-numeric
            # z/y/x or bbox values, short paths) must yield a 400, not
            # kill the request thread.
            return (400, "application/json",
                    json.dumps({"error": {
                        "status": 400,
                        "message": f"bad request: {e!r}"}}).encode())
        except Exception as e:  # noqa: BLE001 — last-resort 500 mapper
            return (500, "application/json",
                    json.dumps({"error": {
                        "status": 500,
                        "message": f"internal error: {e!r}"}}).encode())

    @staticmethod
    def _json(obj) -> tuple[int, str, bytes]:
        return 200, "application/json", json.dumps(obj).encode()

    def _get(self, ds_id: str) -> _Dataset:
        if ds_id not in self.datasets:
            raise ApiError(404, f"dataset {ds_id!r} not found")
        return self.datasets[ds_id]

    # ---- handlers -------------------------------------------------------

    def _list_datasets(self) -> dict:
        return {"datasets": [
            {"id": k, "title": d.title,
             "bbox": [d.grid.x_start, d.grid.y_start,
                      d.grid.x_end, d.grid.y_end]}
            for k, d in sorted(self.datasets.items())]}

    def _describe(self, ds_id: str) -> dict:
        from xcube_spark.cube.grid import var_names

        d = self._get(ds_id)
        g = d.grid
        return {
            "id": ds_id, "title": d.title,
            "bbox": [g.x_start, g.y_start, g.x_end, g.y_end],
            "crs": g.crs,
            "dimensions": {"time": g.time_periods, "y": g.height,
                           "x": g.width},
            "spatialRes": g.x_res,
            "variables": [{"name": v} for v in var_names(d.cube)],
        }

    def _coords(self, ds_id: str, dim: str) -> dict:
        d = self._get(ds_id)
        col = {"time": "time", "lat": "y", "y": "y",
               "lon": "x", "x": "x"}.get(dim)
        if col is None:
            raise ApiError(404, f"unknown dimension {dim!r}")
        rows = (d.cube.select(col).distinct().orderBy(col).collect())
        vals = [(_iso(r[0]) if col == "time" else r[0]) for r in rows]
        return {"name": dim, "size": len(vals), "coordinates": vals}

    def _tile(self, ds_id: str, var: str, z: int, y: int, x: int,
              params: dict[str, str]) -> bytes:
        # through the module, so wrappers installed on the tiles
        # functions (profilers, tracers) see every call
        from xcube_spark.operators import tiles

        d = self._get(ds_id)
        scheme = tiles.TilingScheme.web_mercator() \
            if params.get("crs", "").upper() == "EPSG:3857" \
            else tiles.TilingScheme.geographic()
        nx, ny = scheme.num_tiles(z)
        if not (0 <= x < nx and 0 <= y < ny):
            raise ApiError(404, f"tile ({z}/{y}/{x}) outside the scheme")
        t_i = int(params.get("t_i", 0))
        if "time" in params:
            t_i = _t_index(d.grid, _parse_time(params["time"]))
        # dense nearest-gather render: every tile pixel shows the cell
        # its centre falls in (extract.py:321 index math), so the PNG
        # has no gaps at any zoom.  The pixel -> cell map is separable,
        # so the driver computes it as two per-axis index arrays; one
        # scan collects the needed cells (bbox- and t_i-filtered,
        # partition-prunable, at most tile_size per axis) and
        # render_tile_png gathers them into pixels.  When no pixel
        # shows a cell of the grid, it collects nothing: no Spark job.
        g = d.grid
        xc, yc = scheme.pixel_centers(z, x, y)
        x_index, y_index = g.x_index_np(xc), g.y_index_np(yc)
        need_x = sorted(set(x_index[x_index >= 0].tolist()))
        need_y = sorted(set(y_index[y_index >= 0].tolist()))
        x1, y1, x2, y2 = scheme.tile_bbox(z, x, y)
        cells = d.cube.where(
            (F.col("x") >= x1) & (F.col("x") < x2)
            & (F.col("y") >= y1) & (F.col("y") < y2)
            & (F.col("t_i") == t_i)
            & F.col("x_i").isin(need_x) & F.col("y_i").isin(need_y)
        ).select(F.col("x_i").alias("px"), F.col("y_i").alias("py"), var)
        # clamp-rendered like the reference
        if "vmin" in params or "vmax" in params:
            rgba = tiles.compute_rgba_tile(
                cells, var,
                float(params.get("vmin", 0.0)),
                float(params.get("vmax", 1.0)),
                cmap_name=params.get("cmap", "default"),
                cmap_norm=params.get("norm", "lin"))
        else:
            # the stretch range weighs each cell by the pixels it covers
            rgba = tiles.compute_rgba_tile_auto(
                cells, var, stats_df=tiles.pixel_weighted_values(
                    cells, var, x_index, y_index))
        return tiles.render_tile_png(rgba, scheme.tile_size,
                                     x_index=x_index, y_index=y_index)

    def _timeseries(self, ds_id: str, var: str,
                    params: dict[str, str],
                    geometry: dict | None = None) -> dict:
        """GET with query params; POST additionally carries a GeoJSON
        geometry body (webapi/timeseries/routes.py: 'time-series for a
        variable and given GeoJSON object') — the mask compiles to a
        between-predicate for rectangles or a vectorized
        point-in-polygon otherwise (operators/geom.py)."""
        from xcube_spark.operators.geom import geometry_mask
        from xcube_spark.operators.timeseries import get_time_series

        d = self._get(ds_id)
        aggs = [a.strip() for a in
                params.get("aggMethods", "mean").split(",") if a.strip()]
        bbox = None
        if "bbox" in params:
            bbox = [float(v) for v in params["bbox"].split(",")]
            if len(bbox) != 4:
                raise ApiError(400, "bbox needs x1,y1,x2,y2")
        cube = d.cube
        if "startDate" in params:
            cube = cube.where(
                F.col("time") >= F.lit(_parse_time(params["startDate"])))
        if "endDate" in params:
            cube = cube.where(
                F.col("time") <= F.lit(_parse_time(params["endDate"])))
        mask = None
        if geometry is not None:
            if geometry.get("type") == "Feature":
                geometry = geometry.get("geometry") or {}
            try:
                mask = geometry_mask(geometry)
            except (KeyError, ValueError, TypeError) as e:
                raise ApiError(400, f"bad GeoJSON geometry: {e}") from e
        try:
            out = get_time_series(cube, [var], agg_methods=aggs, bbox=bbox,
                                  geometry_mask=mask)
        except ValueError as e:
            raise ApiError(400, str(e)) from e
        result = []
        for r in out.collect():
            item = {"time": _iso(r["time"])}
            for m in aggs:
                item[m] = r[f"{var}_{m}"]
            result.append(item)
        return {"result": result}

    def _statistics(self, ds_id: str, var: str,
                    params: dict[str, str]) -> dict:
        from xcube_spark.operators.statistics import (compute_histogram,
                                                      compute_statistics)

        d = self._get(ds_id)
        mask = None
        if "lon" in params or "lat" in params:
            if not ("lon" in params and "lat" in params):
                raise ApiError(400, "need both lon and lat")
            g = d.grid
            ix = int((float(params["lon"]) - g.x_start) // g.x_res)
            iy = int((float(params["lat"]) - g.y_start) // g.y_res)
            if not (0 <= ix < g.width and 0 <= iy < g.height):
                raise ApiError(404, "point outside the dataset")
            mask = (F.col("x_i") == ix) & (F.col("y_i") == iy)
        if "time" in params:
            t_mask = F.col("t_i") == _t_index(
                d.grid, _parse_time(params["time"]))
            mask = t_mask if mask is None else (mask & t_mask)
        row = compute_statistics(d.cube, var, mask=mask).collect()[0]
        out = {k: row[k] for k in
               ("count", "minimum", "maximum", "mean", "deviation")}
        if params.get("histogram") == "true":
            cube = d.cube.where(mask) if mask is not None else d.cube
            hist = compute_histogram(cube, var).orderBy("bucket").collect()
            out["histogram"] = [
                {"bucket": r["bucket"], "lo": r["bin_lo"],
                 "hi": r["bin_hi"], "count": r["frequency"]}
                for r in hist]
        return {"result": out}

    def _coverage(self, ds_id: str, params: dict[str, str]) -> dict:
        from xcube_spark.operators.coverages import execute_coverage_request

        d = self._get(ds_id)
        try:
            out, out_grid = execute_coverage_request(d.cube, d.grid, params)
        except ValueError as e:
            raise ApiError(400, str(e)) from e
        limit = int(params.get("limit", 100_000))
        rows = out.limit(limit + 1).collect()
        if len(rows) > limit:
            raise ApiError(
                413, f"coverage exceeds {limit} cells; subset or "
                     "raise ?limit=")
        cols = out.columns
        return {
            "domain": {"width": out_grid.width, "height": out_grid.height,
                       "crs": out_grid.crs},
            "shape": len(rows),
            "columns": cols,
            "rangeset": [[(_iso(v) if isinstance(v, datetime) else v)
                          for v in r] for r in rows],
        }

    def _volume(self, ds_id: str, var: str,
                params: dict[str, str]) -> bytes:
        from xcube_spark.operators.volumes import (extract_volume,
                                                   volume_nrrd_bytes,
                                                   volume_shape)

        d = self._get(ds_id)
        bbox = None
        if "bbox" in params:
            bbox = [float(v) for v in params["bbox"].split(",")]
            if len(bbox) != 4:
                raise ApiError(400, "bbox needs x1,y1,x2,y2")
        time_range = None
        if "startDate" in params or "endDate" in params:
            if not ("startDate" in params and "endDate" in params):
                raise ApiError(400, "need both startDate and endDate")
            time_range = (_parse_time(params["startDate"]),
                          _parse_time(params["endDate"]))
        try:
            voxels = extract_volume(d.cube, d.grid, var, bbox=bbox,
                                    time_range=time_range)
            shape = volume_shape(d.grid, bbox=bbox, time_range=time_range)
            return volume_nrrd_bytes(
                voxels, shape, encoding=params.get("encoding", "gz"))
        except ValueError as e:
            raise ApiError(400, str(e)) from e

    # ---- meta (webapi/meta/routes.py:17) --------------------------------

    def _service_info(self) -> dict:
        return {
            "name": "xcube_spark Server",
            "description": "PySpark-native cube server "
                           "(xcube server API facade)",
            "apis": sorted({
                "meta", "datasets", "tiles", "timeseries", "statistics",
                "places", "expressions", "styles", "ows.coverages",
                "ows.wmts", "ows.stac", "compute", "s3", "volumes",
            }),
            "serverTime": datetime.now(timezone.utc)
            .replace(tzinfo=None).isoformat() + "Z",
            "datasets": len(self.datasets),
        }

    # ---- places (webapi/places/routes.py:19-41) -------------------------

    def _list_place_groups(self) -> dict:
        return {"placeGroups": [
            {"id": k, "title": t, "type": "FeatureCollection"}
            for k, (_df, t) in sorted(self.place_groups.items())]}

    def _places(self, group_id: str, params: dict[str, str]) -> dict:
        from xcube_spark.operators.geom import find_places

        if group_id not in self.place_groups:
            raise ApiError(404, f"place group {group_id!r} not found")
        df, _title = self.place_groups[group_id]
        geom = None
        if "bbox" in params:
            vals = [float(v) for v in params["bbox"].split(",")]
            if len(vals) != 4:
                raise ApiError(400, "bbox needs x1,y1,x2,y2")
            geom = tuple(vals)
        try:
            out = find_places(df, query_geometry=geom,
                              query_expr=params.get("expr"))
        except Exception as e:
            raise ApiError(400, str(e)) from e
        limit = int(params.get("limit", 1000))
        rows = out.limit(limit).collect()
        feats = []
        for r in rows:
            d = r.asDict()
            g = d.pop("geometry", None)
            feats.append({
                "type": "Feature",
                "geometry": {"type": "WKT", "wkt": g},
                "properties": {k: (_iso(v) if isinstance(v, datetime)
                                   else v) for k, v in d.items()},
            })
        return {"type": "FeatureCollection", "features": feats}

    # ---- colorbars (styles api; util/cmaps.py:321-476) ------------------

    def _colorbars(self) -> list:
        import base64

        from xcube_spark.operators.tiles import (COLORMAPS, encode_rgba_png,
                                                 get_colormap, is_qualitative)

        out = []
        for name in sorted(COLORMAPS):
            stops = get_colormap(name)
            discrete = is_qualitative(name)
            # 256x1 strip, driver-side (256 px, bounded); qualitative
            # maps band discretely (ListedColormap), others interpolate
            px = bytearray()
            for i in range(256):
                p = i / 255.0
                if discrete:
                    r, g, b = stops[min(int(p * len(stops)),
                                        len(stops) - 1)][1]
                else:
                    r, g, b = _interp_stops(stops, p)
                px += bytes((r, g, b, 255))
            png = encode_rgba_png(bytes(px), 256, 1)
            out.append([name, base64.b64encode(png).decode("ascii")])
        return out

    # ---- expressions (webapi/expressions/routes.py:20-44) ---------------

    def _expr_capabilities(self) -> dict:
        from xcube_spark.functions.expression import CONSTANTS, FUNCTIONS

        return {
            "namespace": {
                "constants": sorted(CONSTANTS),
                "functions": sorted(FUNCTIONS),
                "operators": ["+", "-", "*", "/", "%", "**", "==", "!=",
                              "<", "<=", ">", ">=", "&", "|", "~",
                              "and", "or", "not", "where", "if-else"],
                "arrayFunctions": [],
            }
        }

    def _expr_validate(self, ds_id: str, expr: str) -> dict:
        from urllib.parse import unquote

        from xcube_spark.functions.expression import (ExprError,
                                                      validate_expression)

        d = self._get(ds_id)
        try:
            return validate_expression(d.cube, unquote(expr))
        except ExprError as e:
            raise ApiError(400, str(e)) from e

    # ---- WMTS (webapi/ows/wmts/routes.py:78-200) ------------------------

    def _wmts(self, seg: list[str], params: dict[str, str]) \
            -> tuple[int, str, bytes]:
        if seg[1:] == ["1.0.0", "WMTSCapabilities.xml"]:
            return (200, "application/xml", self._wmts_capabilities())
        if (len(seg) == 8 and seg[1] == "1.0.0" and seg[2] == "tile"
                and seg[7].endswith(".png")):
            ds_id, var = seg[3], seg[4]
            z, y = int(seg[5]), int(seg[6])
            x = int(seg[7][:-4])
            return (200, "image/png",
                    self._tile(ds_id, var, z, y, x, params))
        if seg[1:] == ["kvp"]:
            kv = {k.lower(): v for k, v in params.items()}
            if kv.get("request", "").lower() == "getcapabilities":
                return (200, "application/xml", self._wmts_capabilities())
            if kv.get("request", "").lower() != "gettile":
                raise ApiError(400, "Request must be GetTile or "
                                    "GetCapabilities")
            layer = kv.get("layer", "")
            if "." not in layer:
                raise ApiError(400, "Layer must be <dataset>.<variable>")
            ds_id, var = layer.split(".", 1)
            return (200, "image/png", self._tile(
                ds_id, var, int(kv["tilematrix"]), int(kv["tilerow"]),
                int(kv["tilecol"]), params))
        raise ApiError(404, "unknown WMTS route")

    def _wmts_capabilities(self) -> bytes:
        """Minimal WMTSCapabilities document: one layer per
        (dataset, variable), WorldCRS84Quad tile matrix set
        (controllers.py get_capabilities)."""
        from xml.sax.saxutils import escape

        from xcube_spark.cube.grid import var_names

        layers = []
        for ds_id, d in sorted(self.datasets.items()):
            g = d.grid
            for v in var_names(d.cube):
                layers.append(
                    f"<Layer><ows:Title>{escape(d.title)}/{escape(v)}"
                    f"</ows:Title><ows:Identifier>{escape(ds_id)}."
                    f"{escape(v)}</ows:Identifier>"
                    f"<ows:WGS84BoundingBox><ows:LowerCorner>{g.x_start} "
                    f"{g.y_start}</ows:LowerCorner><ows:UpperCorner>"
                    f"{g.x_end} {g.y_end}</ows:UpperCorner>"
                    "</ows:WGS84BoundingBox>"
                    "<TileMatrixSetLink><TileMatrixSet>WorldCRS84Quad"
                    "</TileMatrixSet></TileMatrixSetLink>"
                    "<ResourceURL format=\"image/png\" "
                    "resourceType=\"tile\" template=\"/wmts/1.0.0/tile/"
                    f"{escape(ds_id)}/{escape(v)}/"
                    "{TileMatrix}/{TileRow}/{TileCol}.png\"/>"
                    "</Layer>")
        matrices = []
        for z in range(8):
            nx, ny = 2 ** (z + 1), 2 ** z
            res_deg = 180.0 / (ny * 256)
            scale = res_deg * 111319.49079327358 / 0.00028
            matrices.append(
                f"<TileMatrix><ows:Identifier>{z}</ows:Identifier>"
                f"<ScaleDenominator>{scale}</ScaleDenominator>"
                "<TopLeftCorner>-180 90</TopLeftCorner>"
                "<TileWidth>256</TileWidth><TileHeight>256</TileHeight>"
                f"<MatrixWidth>{nx}</MatrixWidth>"
                f"<MatrixHeight>{ny}</MatrixHeight></TileMatrix>")
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Capabilities xmlns="http://www.opengis.net/wmts/1.0" '
            'xmlns:ows="http://www.opengis.net/ows/1.1" version="1.0.0">'
            "<ows:ServiceIdentification><ows:Title>xcube_spark WMTS"
            "</ows:Title><ows:ServiceType>OGC WMTS</ows:ServiceType>"
            "<ows:ServiceTypeVersion>1.0.0</ows:ServiceTypeVersion>"
            "</ows:ServiceIdentification><Contents>"
            + "".join(layers)
            + "<TileMatrixSet><ows:Identifier>WorldCRS84Quad"
              "</ows:Identifier><ows:SupportedCRS>urn:ogc:def:crs:OGC:"
              "1.3:CRS84</ows:SupportedCRS>"
            + "".join(matrices)
            + "</TileMatrixSet></Contents></Capabilities>")
        return doc.encode()

    # ---- STAC (webapi/ows/stac/routes.py:25-131) ------------------------

    def _stac(self, seg: list[str], params: dict[str, str]):
        if seg == ["ogc"]:
            return {
                "type": "Catalog", "id": "xcube_spark",
                "stac_version": "1.0.0",
                "description": "Data cubes served by xcube_spark",
                "links": [
                    {"rel": "self", "href": "/ogc"},
                    {"rel": "conformance", "href": "/ogc/conformance"},
                    {"rel": "data", "href": "/ogc/collections"},
                ],
            }
        if seg == ["ogc", "conformance"]:
            return {"conformsTo": [
                "https://api.stacspec.org/v1.0.0/core",
                "http://www.opengis.net/spec/ogcapi-common-1/1.0/conf/core",
                "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/core",
                "http://www.opengis.net/spec/ogcapi-coverages-1/0.0/conf/core",
            ]}
        if seg == ["ogc", "collections"]:
            return {"collections": [
                self._stac_collection(k)
                for k in sorted(self.datasets)]}
        if len(seg) == 3 and seg[1] == "collections":
            if seg[2] not in self.datasets:
                raise ApiError(404, f"collection {seg[2]!r} not found")
            return self._stac_collection(seg[2])
        if (len(seg) == 4 and seg[1] == "collections"
                and seg[3] == "items"):
            return {"type": "FeatureCollection",
                    "features": [self._stac_item(seg[2])]}
        if (len(seg) == 5 and seg[1] == "collections"
                and seg[3] == "items"):
            if seg[4] != "datacube":
                raise ApiError(404, f"item {seg[4]!r} not found")
            return self._stac_item(seg[2])
        return None  # not a STAC route (e.g. /ogc/.../coverage)

    def _stac_collection(self, ds_id: str) -> dict:
        d = self._get(ds_id)
        g = d.grid
        return {
            "id": ds_id, "title": d.title,
            "stac_version": "1.0.0",
            "extent": {
                "spatial": {"bbox": [[g.x_start, g.y_start,
                                      g.x_end, g.y_end]]},
                "temporal": {"interval": [[_iso(g.t_start),
                                           _iso(_time_end(g))]]},
            },
            "links": [
                {"rel": "self", "href": f"/ogc/collections/{ds_id}"},
                {"rel": "items",
                 "href": f"/ogc/collections/{ds_id}/items"},
                {"rel": "coverage",
                 "href": f"/ogc/collections/{ds_id}/coverage"},
            ],
        }

    def _stac_item(self, ds_id: str) -> dict:
        """The reference exposes each dataset as ONE 'datacube' item
        with datacube-extension dimensions (stac controllers)."""
        from xcube_spark.cube.grid import var_names

        d = self._get(ds_id)
        g = d.grid
        return {
            "type": "Feature", "id": "datacube",
            "stac_version": "1.0.0",
            "stac_extensions": [
                "https://stac-extensions.github.io/datacube/v2.1.0/schema.json"
            ],
            "collection": ds_id,
            "bbox": [g.x_start, g.y_start, g.x_end, g.y_end],
            "geometry": {"type": "Polygon", "coordinates": [[
                [g.x_start, g.y_start], [g.x_end, g.y_start],
                [g.x_end, g.y_end], [g.x_start, g.y_end],
                [g.x_start, g.y_start]]]},
            "properties": {
                "cube:dimensions": {
                    "x": {"type": "spatial", "axis": "x",
                          "extent": [g.x_start, g.x_end]},
                    "y": {"type": "spatial", "axis": "y",
                          "extent": [g.y_start, g.y_end]},
                    "time": {"type": "temporal",
                             "extent": [_iso(g.t_start),
                                        _iso(_time_end(g))]},
                },
                "cube:variables": {
                    v: {"type": "data", "dimensions": ["time", "y", "x"]}
                    for v in var_names(d.cube)
                },
            },
            "assets": {},
            "links": [],
        }

    # ---- compute (webapi/compute/routes.py:172-290) ---------------------

    def _compute_get(self, seg: list[str]) -> dict:
        from xcube_spark.pipeline.ops import OP_REGISTRY

        if seg == ["compute", "operations"]:
            return {"operations": [
                info.to_dict() for _n, info in
                sorted(OP_REGISTRY.ops().items())]}
        if len(seg) == 3 and seg[1] == "operations":
            try:
                return OP_REGISTRY.get_op(seg[2]).to_dict()
            except KeyError:
                raise ApiError(404, f"operation {seg[2]!r} not found")
        if seg == ["compute", "jobs"]:
            return {"jobs": [self.jobs[j] for j in sorted(self.jobs)]}
        if len(seg) == 3 and seg[1] == "jobs":
            try:
                return self.jobs[int(seg[2])]
            except (KeyError, ValueError):
                raise ApiError(404, f"job {seg[2]!r} not found")
        raise ApiError(404, "unknown compute route")

    def submit_job(self, request: dict) -> dict:
        """PUT /compute/jobs body (controllers.py put_compute_job):
        ``{"operationId", "parameters": {...}, "output":
        {"datasetId", "title"}}``.  Executes synchronously (Spark IS
        the job runner; plans are lazy so 'running' means planning)
        and registers the result as a served dataset."""
        from xcube_spark.pipeline.ops import OP_REGISTRY

        op_id = request.get("operationId")
        if not op_id:
            raise ApiError(400, "operationId is required")
        params = dict(request.get("parameters", {}))
        out_cfg = dict(request.get("output", {}))
        with self._job_seq_lock:
            self._job_seq += 1
            job_id = self._job_seq
        job = {"jobId": job_id, "operationId": op_id,
               "state": {"status": "running"}}
        self.jobs[job_id] = job
        try:
            info = OP_REGISTRY.get_op(op_id)
        except KeyError:
            job["state"] = {"status": "failed",
                            "error": f"operation {op_id!r} not found"}
            raise ApiError(404, f"operation {op_id!r} not found")
        ds_param = (info.dataset_params or [None])[0]
        in_id = params.pop(ds_param, None) if ds_param else None
        try:
            if ds_param is not None:
                if in_id not in self.datasets:
                    raise ValueError(
                        f"parameter {ds_param!r} must name a served "
                        f"dataset, got {in_id!r}")
                src = self.datasets[in_id]
                result = OP_REGISTRY.invoke(op_id, src.cube, params)
                grid = src.grid
            else:
                result = info.fn(**params)
                grid = None
            out_id = out_cfg.get("datasetId") or f"job-{job_id}"
            if grid is not None:
                self.add_dataset(out_id, result, grid,
                                 title=out_cfg.get("title", out_id))
            job["state"] = {"status": "completed"}
            job["output"] = {"datasetId": out_id}
        except (ValueError, TypeError) as e:
            job["state"] = {"status": "failed", "error": str(e)}
            raise ApiError(400, str(e)) from e
        return job

    # ---- gen2 remote service (core/gen2/remote/generator.py:36 client
    # contract: PUT /cubegens submits a request, GET /cubegens/{id}
    # polls status + progress until succeeded/failed) ---------------------

    def _cubegen_get(self, seg: list[str]) -> dict:
        if seg == ["cubegens"]:
            return {"cubegens": [
                {"cubegenId": g, "status": self.cubegens[g]["status"]}
                for g in sorted(self.cubegens)]}
        if len(seg) == 2:
            try:
                return dict(self.cubegens[int(seg[1])])
            except (KeyError, ValueError):
                raise ApiError(404, f"cubegen {seg[1]!r} not found")
        raise ApiError(404, "unknown cubegens route")

    def submit_cubegen(self, request: dict) -> dict:
        """PUT /cubegens body: a gen2 request
        (``pipeline.generator.CubeGeneratorRequest`` JSON shape).  The
        input is a SERVED dataset — ``input_config: {"store_id":
        "served", "data_id": <dataset id>}`` — and the generated cube
        is registered back under ``output_config.data_id`` (default
        ``cubegen-<id>``).  Runs on a background thread; clients poll
        GET /cubegens/{id} (RemoteCubeGenerator does)."""
        import threading as _threading

        with self._job_seq_lock:
            self._job_seq += 1
            gid = self._job_seq
        job = {
            "cubegenId": gid,
            "status": {"active": True, "succeeded": None, "failed": None},
            "progress": [],
            "result": None,
        }
        self.cubegens[gid] = job
        t = _threading.Thread(
            target=self._run_cubegen, args=(gid, dict(request)),
            daemon=True)
        t.start()
        return {"cubegenId": gid, "status": dict(job["status"])}

    def _run_cubegen(self, gid: int, request: dict) -> None:
        from xcube_spark.pipeline.generator import (CubeGeneratorRequest,
                                                    generate_cube)
        from xcube_spark.util.progress import (ProgressObserver,
                                               add_progress_observers,
                                               observe_progress)

        job = self.cubegens[gid]
        server = self

        class _JobObserver(ProgressObserver):
            def _snap(self, stack):
                job["progress"] = [
                    {"sender": s.label,
                     "state": {"label": s.label,
                               "total_work": s.total_work,
                               "progress": round(s.progress, 6)}}
                    for s in stack]

            on_begin = on_update = on_end = (
                lambda self, stack: self._snap(stack))

        try:
            ic = request.get("input_config") or {}
            if ic.get("store_id") != "served":
                raise ValueError(
                    "input_config.store_id must be 'served' (the "
                    "service generates from served datasets)")
            ds_id = ic.get("data_id")
            if ds_id not in server.datasets:
                raise ValueError(f"dataset {ds_id!r} not served")
            src = server.datasets[ds_id]
            req = CubeGeneratorRequest.from_dict(request)
            oc = request.get("output_config") or {}
            out_id = oc.get("data_id") or f"cubegen-{gid}"
            with add_progress_observers(_JobObserver()):
                with observe_progress("generating cube", 3) as p:
                    out, out_grid = generate_cube(
                        server.spark, src.cube, src.grid, req)
                    p.worked(1)
                    n = out.count()  # materialize/validate the plan
                    p.worked(1)
                    server.add_dataset(out_id, out, out_grid,
                                       title=oc.get("title", out_id))
                    p.worked(1)
            job["result"] = {"datasetId": out_id, "rows": n,
                             "message": "cube generated"}
            job["status"] = {"active": False, "succeeded": True,
                             "failed": None}
        except Exception as e:  # noqa: BLE001 — job boundary
            import traceback as _tbmod

            job["result"] = {"message": str(e),
                             "traceback": _tbmod.format_exc()}
            job["status"] = {"active": False, "succeeded": None,
                             "failed": True}

    # ---- viewer (webapi/viewer configuration surface) -------------------

    def _viewer_config(self) -> dict:
        """The configuration JSON the reference's viewer app fetches at
        startup (webapi/viewer/config.py semantics): datasets with
        their variables/bbox, available colormaps, and the API routes
        the app should call.  The JS app itself is not shipped — this
        is the data side of the contract."""
        from xcube_spark.cube.grid import var_names
        from xcube_spark.operators.tiles import COLORMAPS

        return {
            "datasets": [
                {
                    "id": k,
                    "title": d.title,
                    "bbox": [d.grid.x_start, d.grid.y_start,
                             d.grid.x_end, d.grid.y_end],
                    "variables": [
                        {"name": v,
                         "tileUrl": f"/tiles/{k}/{v}/{{z}}/{{y}}/{{x}}"}
                        for v in var_names(d.cube)],
                }
                for k, d in sorted(self.datasets.items())
            ],
            "colormaps": sorted(COLORMAPS),
            "apis": {"timeseries": "/timeseries/{dataset}/{variable}",
                     "statistics": "/statistics/{dataset}/{variable}",
                     "places": "/places"},
        }

    # ---- S3 emulation (webapi/s3/routes.py:104-190) ---------------------

    def _s3_materialize(self, ds_id: str) -> str:
        """Write the dataset's zarr representation once (distributed
        write, driver handles only metadata) and serve its keys as
        bucket objects — the reference's virtual 'datasets' bucket
        backed by real chunks."""
        if ds_id not in self._s3_cache:
            import tempfile

            from xcube_spark.cube.grid import var_names
            from xcube_spark.sources.zarrio import write_zarr_cube

            d = self._get(ds_id)
            path = tempfile.mkdtemp(prefix=f"s3-{ds_id}-")
            write_zarr_cube(d.cube, path, d.grid,
                            var_names=var_names(d.cube), mode="overwrite")
            self._s3_cache[ds_id] = path
        return self._s3_cache[ds_id]

    def _s3(self, seg: list[str], params: dict[str, str]) \
            -> tuple[int, str, bytes]:
        import os as _os
        from xml.sax.saxutils import escape

        if len(seg) < 2 or seg[1] != "datasets":
            raise ApiError(404, "unknown bucket (use 'datasets')")
        if len(seg) == 2:
            # ListObjectsV2 over every registered dataset's zarr keys
            prefix = params.get("prefix", "")
            keys = []
            for ds_id in sorted(self.datasets):
                zname = f"{ds_id}.zarr"
                if prefix and not zname.startswith(prefix.split("/")[0]):
                    continue
                root = self._s3_materialize(ds_id)
                for dirpath, _dn, files in _os.walk(root):
                    for f in files:
                        rel = _os.path.relpath(
                            _os.path.join(dirpath, f), root)
                        key = f"{zname}/{rel.replace(_os.sep, '/')}"
                        if key.startswith(prefix):
                            keys.append(
                                (key, _os.path.getsize(
                                    _os.path.join(dirpath, f))))
            body = (
                '<?xml version="1.0" encoding="UTF-8"?>'
                "<ListBucketResult><Name>datasets</Name>"
                f"<Prefix>{escape(prefix)}</Prefix>"
                f"<KeyCount>{len(keys)}</KeyCount><IsTruncated>false"
                "</IsTruncated>"
                + "".join(
                    f"<Contents><Key>{escape(k)}</Key>"
                    f"<Size>{n}</Size></Contents>"
                    for k, n in sorted(keys))
                + "</ListBucketResult>")
            return (200, "application/xml", body.encode())
        key = "/".join(seg[2:])
        zname, _, rel = key.partition("/")
        if not zname.endswith(".zarr") or not rel:
            raise ApiError(404, f"no such key {key!r}")
        ds_id = zname[:-5]
        if ds_id not in self.datasets:
            raise ApiError(404, f"no such key {key!r}")
        root = self._s3_materialize(ds_id)
        # Containment check: the URL tail is attacker-controlled, so resolve
        # and verify it stays inside the materialized zarr root (rejects
        # '..' traversal, absolute segments, and symlink escapes).
        fpath = _os.path.realpath(
            _os.path.join(root, rel.replace("/", _os.sep)))
        real_root = _os.path.realpath(root)
        if fpath != real_root and not fpath.startswith(
                real_root + _os.sep):
            raise ApiError(404, f"no such key {key!r}")
        if not _os.path.isfile(fpath):
            raise ApiError(404, f"no such key {key!r}")
        with open(fpath, "rb") as f:
            return (200, "application/octet-stream", f.read())

    # ---- HTTP plumbing --------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving on a background thread; returns the port."""
        server = self

        class Handler(BaseHTTPRequestHandler):
            def _reply(self, status, ctype, body):
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (stdlib API)
                u = urlsplit(self.path)
                params = dict(parse_qsl(u.query))
                self._reply(*server.handle(u.path, params,
                                           dict(self.headers)))

            def do_PUT(self):  # noqa: N802 — PUT /compute/jobs, /cubegens
                u = urlsplit(self.path)
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n) if n else b"{}"
                seg = [s for s in u.path.split("/") if s]
                if seg == ["compute", "jobs"]:
                    submit = server.submit_job
                elif seg == ["cubegens"]:
                    submit = server.submit_cubegen
                elif len(seg) == 3 and seg[0] == "timeseries":
                    # POST /timeseries/{ds}/{var} with a GeoJSON body
                    params = dict(parse_qsl(u.query))

                    def submit(body, _s=seg, _p=params):
                        return server._timeseries(
                            _s[1], _s[2], _p, geometry=body)
                else:
                    self._reply(404, "application/json",
                                b'{"error": "unknown PUT route"}')
                    return
                try:
                    server.check_auth(dict(self.headers))
                    job = submit(json.loads(raw))
                    self._reply(200, "application/json",
                                json.dumps(job).encode())
                except ApiError as e:
                    self._reply(e.status, "application/json", json.dumps(
                        {"error": {"status": e.status,
                                   "message": str(e)}}).encode())
                except json.JSONDecodeError as e:
                    self._reply(400, "application/json", json.dumps(
                        {"error": {"status": 400,
                                   "message": str(e)}}).encode())

            do_POST = do_PUT  # noqa: N815 — POST accepted as an alias

            def log_message(self, *a):  # silence test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
