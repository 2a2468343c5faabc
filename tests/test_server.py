"""HTTP serving facade (server.py) — e2e over a real socket with a
real client; reference parity: xcube serve route grammar
(webapi/{tiles,timeseries,statistics}/routes.py, ows/coverages)."""

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube
from xcube_spark.server import CubeServer

GRID = CubeGrid(width=36, height=18, time_periods=3, x_res=10.0,
                y_res=10.0)


_SRV: dict = {}


@pytest.fixture(scope="module")
def served(spark):
    cube = new_cube(spark, GRID, {
        "sst": "CAST(t_i AS DOUBLE) + 0.1 * y + 0.01 * x",
        "chl": 0.5,
    })
    srv = CubeServer(spark)
    srv.add_dataset("demo", cube, GRID, title="Demo cube")
    port = srv.start()
    _SRV["srv"] = srv
    yield f"http://127.0.0.1:{port}"
    srv.stop()
    _SRV.clear()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, r.headers.get("Content-Type"), r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read()


def _get_json(url):
    status, ctype, body = _get(url)
    assert status == 200, body
    assert ctype == "application/json"
    return json.loads(body)


def test_datasets_listing_and_descriptor(served):
    out = _get_json(f"{served}/datasets")
    assert out["datasets"][0]["id"] == "demo"
    desc = _get_json(f"{served}/datasets/demo")
    assert desc["dimensions"] == {"time": 3, "y": 18, "x": 36}
    assert {v["name"] for v in desc["variables"]} == {"sst", "chl"}
    coords = _get_json(f"{served}/datasets/demo/coords/time")
    assert coords["size"] == 3
    assert coords["coordinates"][0].startswith("2010-01-01T12:00")


def test_tile_png(served):
    status, ctype, body = _get(
        f"{served}/tiles/demo/sst/0/0/0?vmin=-10&vmax=12&cmap=default")
    assert status == 200
    assert ctype == "image/png"
    assert body[:8] == b"\x89PNG\r\n\x1a\n"
    from xcube_spark.operators.tiles import decode_rgba_png

    w, h, rgba = decode_rgba_png(body)
    assert (w, h) == (256, 256)
    # west hemisphere tile of a global cube: data everywhere -> opaque
    assert rgba[3] == 255


def test_tile_auto_stretch_and_time(served):
    status, ctype, body = _get(
        f"{served}/tiles/demo/sst/0/0/1?time=2010-01-02T12:00:00")
    assert status == 200 and body[:4] == b"\x89PNG"
    status, _, body = _get(f"{served}/tiles/demo/sst/0/0/7")
    assert status == 404


def test_timeseries_json(served):
    out = _get_json(
        f"{served}/timeseries/demo/sst?aggMethods=mean,max"
        "&bbox=-180,-90,0,90")
    res = out["result"]
    assert len(res) == 3
    assert res[0]["time"].startswith("2010-01-01T12:00")
    # mean over x in [-180, 0): t + 0.1*0 + 0.01*mean(x) = t - 0.9
    assert res[0]["mean"] == pytest.approx(-0.9)
    assert res[1]["mean"] == pytest.approx(0.1)
    # max at y=85, x=-5: t + 8.5 - 0.05
    assert res[2]["max"] == pytest.approx(2 + 8.45)
    out = _get_json(
        f"{served}/timeseries/demo/sst?startDate=2010-01-02")
    assert len(out["result"]) == 2


def test_statistics_point_and_global(served):
    # cell containing (5, 5): x_i=18, y_i=9 -> x=5, y=5
    out = _get_json(
        f"{served}/statistics/demo/sst?lon=5&lat=5"
        "&time=2010-01-01T12:00:00")["result"]
    assert out["count"] == 1
    assert out["mean"] == pytest.approx(0.1 * 5 + 0.01 * 5)
    full = _get_json(
        f"{served}/statistics/demo/sst?histogram=true")["result"]
    assert full["count"] == GRID.size
    assert sum(b["count"] for b in full["histogram"]) == GRID.size
    status, _, _ = _get(f"{served}/statistics/demo/sst?lon=999&lat=0")
    assert status == 404


def test_coverage_subset(served):
    out = _get_json(
        f"{served}/ogc/collections/demo/coverage"
        "?subset=y(-40:40),x(-60:60)&properties=sst")
    assert out["domain"]["crs"] == "EPSG:4326"
    assert "sst" in out["columns"] and "chl" not in out["columns"]
    # 12 x cells * 8 y cells * 3 t
    assert out["shape"] == 12 * 8 * 3
    status, _, body = _get(
        f"{served}/ogc/collections/demo/coverage?limit=10")
    assert status == 413


def test_volume_nrrd(served):
    """NRRD brick: gzip payload decodes to the exact voxel grid."""
    import gzip
    import struct as st

    status, ctype, body = _get(
        f"{served}/volumes/demo/sst?bbox=-30,-30,30,30")
    assert status == 200 and ctype == "application/octet-stream"
    head, _, payload = body.partition(b"\n\n")
    assert b"NRRD0004" in head
    vals = st.unpack("<{}f".format(3 * 6 * 6), gzip.decompress(payload))
    assert len(vals) == 108
    # t=0 top render row (y=25), x=-25: 0 + 2.5 - 0.25
    assert abs(vals[0] - 2.25) < 1e-6
    status, _, _ = _get(f"{served}/volumes/demo/sst?bbox=0,0")
    assert status == 400


def test_unknown_routes(served):
    status, _, body = _get(f"{served}/nope")
    assert status == 404
    status, _, _ = _get(f"{served}/datasets/missing")
    assert status == 404


# ---- round-5 routes: meta/places/expressions/colorbars/WMTS/STAC/
# compute/S3 (webapi parity) -------------------------------------------


def test_service_info(served):
    out = _get_json(f"{served}/")
    assert out["name"] == "xcube_spark Server"
    assert "ows.wmts" in out["apis"] and out["datasets"] >= 1


def test_places(spark, served):
    feats = spark.createDataFrame(
        [("p1", "POINT (5 5)", "Harbor"),
         ("p2", "POINT (125 45)", "Far away")],
        "id string, geometry string, label string")
    _SRV["srv"].add_place_group("ports", feats, title="Ports")

    groups = _get_json(f"{served}/places")
    assert groups["placeGroups"][0]["id"] == "ports"
    fc = _get_json(f"{served}/places/ports?bbox=0,0,20,20")
    assert [f["properties"]["id"] for f in fc["features"]] == ["p1"]
    fc2 = _get_json(f"{served}/places/ports")
    assert len(fc2["features"]) == 2


def test_expressions_capabilities_and_validate(served):
    caps = _get_json(f"{served}/expressions/capabilities")
    assert "sqrt" in caps["namespace"]["functions"]
    ok = _get_json(f"{served}/expressions/validate/demo/sst%20*%202")
    assert "result" in ok
    status, _ctype, body = _get(
        f"{served}/expressions/validate/demo/nope%20*%202")
    assert status == 400 and b"unknown variable" in body


def test_colorbars(served):
    import base64

    out = _get_json(f"{served}/colorbars")
    names = [n for n, _png in out]
    assert "viridis" in names and "default" in names
    png = base64.b64decode(dict(out)["gray"])
    assert png[:8] == b"\x89PNG\r\n\x1a\n"


def test_wmts_capabilities_and_tile(served):
    status, ctype, body = _get(f"{served}/wmts/1.0.0/WMTSCapabilities.xml")
    assert status == 200 and "xml" in ctype
    assert b"<ows:Identifier>demo.sst</ows:Identifier>" in body
    assert b"WorldCRS84Quad" in body
    status, ctype, body = _get(
        f"{served}/wmts/1.0.0/tile/demo/sst/0/0/0.png?vmin=0&vmax=12")
    assert status == 200 and ctype == "image/png"
    assert body[:8] == b"\x89PNG\r\n\x1a\n"
    # KVP form renders the same tile
    status2, _c, body2 = _get(
        f"{served}/wmts/kvp?Service=WMTS&Request=GetTile&Layer=demo.sst"
        "&TileMatrix=0&TileRow=0&TileCol=0&vmin=0&vmax=12")
    assert status2 == 200 and body2 == body


def test_stac_catalog(served):
    cat = _get_json(f"{served}/ogc")
    assert cat["type"] == "Catalog"
    conf = _get_json(f"{served}/ogc/conformance")
    assert any("stacspec" in c for c in conf["conformsTo"])
    cols = _get_json(f"{served}/ogc/collections")
    assert cols["collections"][0]["id"] == "demo"
    col = _get_json(f"{served}/ogc/collections/demo")
    assert col["extent"]["spatial"]["bbox"][0] == [-180.0, -90.0,
                                                   180.0, 90.0]
    items = _get_json(f"{served}/ogc/collections/demo/items")
    item = items["features"][0]
    assert item["id"] == "datacube"
    assert set(item["properties"]["cube:variables"]) == {"sst", "chl"}
    single = _get_json(f"{served}/ogc/collections/demo/items/datacube")
    assert single["id"] == "datacube"


def test_compute_operations_and_job(served):
    import urllib.request

    ops = _get_json(f"{served}/compute/operations")
    names = [o["operationId"] for o in ops["operations"]]
    assert "spatial_subset" in names
    one = _get_json(f"{served}/compute/operations/spatial_subset")
    assert "bbox" in one["parametersSchema"]["properties"]

    req = urllib.request.Request(
        f"{served}/compute/jobs",
        data=json.dumps({
            "operationId": "spatial_subset",
            "parameters": {"dataset": "demo", "bbox": [0, 0, 90, 90]},
            "output": {"datasetId": "demo_sub"},
        }).encode(),
        method="PUT", headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as r:
        job = json.loads(r.read())
    assert job["state"]["status"] == "completed"
    assert job["output"]["datasetId"] == "demo_sub"
    jobs = _get_json(f"{served}/compute/jobs")
    assert jobs["jobs"][0]["jobId"] == job["jobId"]
    # the result is now served
    desc = _get_json(f"{served}/datasets/demo_sub")
    assert desc["id"] == "demo_sub"


def test_s3_bucket(served):
    status, ctype, body = _get(f"{served}/s3/datasets")
    assert status == 200 and "xml" in ctype
    assert b"<Key>demo.zarr/.zgroup</Key>" in body
    status, _c, zgroup = _get(f"{served}/s3/datasets/demo.zarr/.zgroup")
    assert status == 200 and json.loads(zgroup)["zarr_format"] == 2
    status, _c, zarray = _get(f"{served}/s3/datasets/demo.zarr/sst/.zarray")
    assert status == 200
    meta = json.loads(zarray)
    assert meta["shape"] == [3, 18, 36]
    status, _c, _b = _get(f"{served}/s3/datasets/demo.zarr/nope")
    assert status == 404


def test_viewer_config(served):
    cfg = _get_json(f"{served}/viewer/config")
    ds = cfg["datasets"][0]
    assert ds["id"] == "demo"
    assert {v["name"] for v in ds["variables"]} == {"sst", "chl"}
    assert "viridis" in cfg["colormaps"]
    assert cfg["apis"]["timeseries"].startswith("/timeseries/")


def test_auth_api_key_and_jwt(spark):
    """webapi/auth parity: bearer API key + HS256 JWT with scope
    checks; no auth config -> open serving (covered by every other
    test here)."""
    import base64
    import hashlib
    import hmac
    import time as _time
    import urllib.request

    srv = CubeServer(spark, auth={
        "api_keys": ["sekrit"],
        "jwt_secret": "hmac-secret",
        "audience": "cubes",
        "required_scopes": ["read:datasets"],
    })
    cube = new_cube(spark, GRID, {"v": 1.0})
    srv.add_dataset("d", cube, GRID)
    port = srv.start()
    base = f"http://127.0.0.1:{port}"

    def get(url, token=None):
        req = urllib.request.Request(url)
        if token:
            req.add_header("Authorization", f"Bearer {token}")
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    def jwt(payload):
        def b64(b):
            return base64.urlsafe_b64encode(b).rstrip(b"=").decode()

        h = b64(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
        p = b64(json.dumps(payload).encode())
        sig = b64(hmac.new(b"hmac-secret", f"{h}.{p}".encode(),
                           hashlib.sha256).digest())
        return f"{h}.{p}.{sig}"

    try:
        assert get(f"{base}/datasets") == 401          # no credential
        assert get(f"{base}/datasets", "wrong") == 401  # bad key
        assert get(f"{base}/datasets", "sekrit") == 200  # api key
        good = jwt({"aud": "cubes", "scope": "read:datasets",
                    "exp": _time.time() + 60})
        assert get(f"{base}/datasets", good) == 200
        expired = jwt({"aud": "cubes", "scope": "read:datasets",
                       "exp": _time.time() - 60})
        assert get(f"{base}/datasets", expired) == 401
        wrong_aud = jwt({"aud": "other", "scope": "read:datasets"})
        assert get(f"{base}/datasets", wrong_aud) == 401
        no_scope = jwt({"aud": "cubes", "scope": "other:stuff"})
        assert get(f"{base}/datasets", no_scope) == 403
        tampered = good[:-4] + "AAAA"
        assert get(f"{base}/datasets", tampered) == 401
    finally:
        srv.stop()


def test_s3_path_traversal_rejected(served):
    """Attacker-controlled key tails must not escape the zarr root
    (realpath containment, server.py _s3)."""
    srv = _SRV["srv"]
    # via handle() so no client-side URL normalization hides the '..'
    status, _c, _b = srv.handle(
        "/s3/datasets/demo.zarr/../../../../etc/passwd", {}, {})
    assert status == 404
    status, _c, _b = srv.handle(
        "/s3/datasets/demo.zarr/sst/../../demo.zarr/.zgroup", {}, {})
    # normalizes to a legit in-root path -> either fine (200) or 404,
    # but must never reach outside; plain dotted traversal above is 404.
    assert status in (200, 404)
    status, _c, body = srv.handle(
        "/s3/datasets/demo.zarr/.zgroup", {}, {})
    assert status == 200  # legit keys still served


def test_malformed_params_yield_400_not_thread_death(served):
    """handle() maps KeyError/ValueError from client input to HTTP 400
    (not an unhandled exception that kills the request thread)."""
    # non-numeric tile coords -> ValueError from int()
    status, ctype, body = _get(f"{served}/tiles/demo/sst/zero/0/0")
    assert status == 400
    assert json.loads(body)["error"]["status"] == 400
    # WMTS KVP GetTile with missing tilematrix/tilerow/tilecol -> KeyError
    status, _c, body = _get(
        f"{served}/wmts/kvp?request=GetTile&layer=demo.sst")
    assert status == 400
    # non-numeric bbox -> ValueError
    status, _c, _b = _get(
        f"{served}/timeseries/demo/sst?bbox=a,b,c,d")
    assert status == 400
    # server still alive afterwards
    assert _get(f"{served}/datasets")[0] == 200


def test_snap_cpd_colormap_load_and_serve(spark, tmp_path):
    """SNAP *.cpd palette import (reference util/cmaps.py:682) +
    breadth of the named registry: loaded maps list on /colorbars and
    drive tile rendering."""
    from xcube_spark.operators.tiles import (COLORMAPS, get_colormap,
                                             load_snap_cpd_colormap)

    cpd = tmp_path / "chl_palette.cpd"
    cpd.write_text(
        "# SNAP colour palette\n"
        "autoDistribute=false\n"
        "numPoints=3\n"
        "sample0=0.01\n"
        "color0=0,0,128\n"
        "sample1=5.0\n"
        "color1=0,255,0,255\n"   # 4-component: alpha ignored
        "sample2=10.0\n"
        "color2=255,255,0\n"
    )
    name = load_snap_cpd_colormap(str(cpd))
    assert name == "chl_palette"
    stops = get_colormap(name)
    assert stops[0] == (0.0, (0, 0, 128))
    assert stops[-1] == (1.0, (255, 255, 0))
    assert stops[1][0] == pytest.approx((5.0 - 0.01) / (10.0 - 0.01))
    # registry breadth: matplotlib-style names present + reversible
    for m in ("Blues", "Spectral", "turbo", "seismic", "terrain"):
        assert m in COLORMAPS
    rev = get_colormap("Blues_r")
    assert rev[0][1] == COLORMAPS["Blues"][-1][1]
    # malformed files raise
    bad = tmp_path / "bad.cpd"
    bad.write_text("numPoints=2\nsample0=0\ncolor0=1,2\n")
    with pytest.raises(ValueError):
        load_snap_cpd_colormap(str(bad))

    # server integration: colormap_files listed by /colorbars and usable
    srv = CubeServer(spark, colormap_files=[str(cpd)])
    cube = new_cube(spark, GRID, {"v": 1.0})
    srv.add_dataset("d", cube, GRID)
    port = srv.start()
    try:
        out = _get_json(f"http://127.0.0.1:{port}/colorbars")
        names = (out["colormaps"] if isinstance(out, dict)
                 else out)
        assert "chl_palette" in str(names) and "Blues" in str(names)
        status, ctype, body = _get(
            f"http://127.0.0.1:{port}/tiles/d/v/0/0/0?cmap=chl_palette")
        assert status == 200 and body[:4] == b"\x89PNG"
    finally:
        srv.stop()


def test_timeseries_post_geojson_geometry(served):
    """POST /timeseries/{ds}/{var} with a GeoJSON geometry body
    (reference webapi/timeseries routes: 'time-series for a given
    GeoJSON object') — polygon masking, Feature unwrap, 400 on bad
    geometry."""
    import urllib.request

    def post(path, body):
        req = urllib.request.Request(
            f"{served}{path}", data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    # triangle over the north-west quadrant
    tri = {"type": "Polygon",
           "coordinates": [[[-180.0, 0.0], [0.0, 0.0], [-180.0, 90.0],
                            [-180.0, 0.0]]]}
    status, out = post("/timeseries/demo/sst?aggMethods=mean,count", tri)
    assert status == 200
    res = out["result"]
    assert len(res) == 3 and res[0]["count"] > 0
    # a rectangle geometry must equal the bbox query-param result
    rect = {"type": "Feature", "geometry": {
        "type": "Polygon",
        "coordinates": [[[-180.0, -90.0], [0.0, -90.0], [0.0, 90.0],
                         [-180.0, 90.0], [-180.0, -90.0]]]}}
    status, out_geo = post("/timeseries/demo/sst?aggMethods=mean", rect)
    assert status == 200
    _s, _c, raw = _get(
        f"{served}/timeseries/demo/sst?aggMethods=mean&bbox=-180,-90,0,90")
    out_bbox = json.loads(raw)
    assert out_geo["result"] == out_bbox["result"]
    # malformed geometry -> 400
    status, err = post("/timeseries/demo/sst", {"type": "Polygon"})
    assert status == 400


def test_matplotlib_alias_colormaps_resolve():
    """Common matplotlib registry names resolve through CMAP_ALIASES
    to real stop tables (never the default fallback), including the
    reversed forms."""
    from xcube_spark.operators.tiles import (
        CMAP_ALIASES, COLORMAPS, get_colormap)

    default = COLORMAPS["default"]
    for alias, target in CMAP_ALIASES.items():
        stops = get_colormap(alias)
        base = target[:-2] if target.endswith("_r") else target
        assert base in COLORMAPS, (alias, target)
        assert stops != default or base == "default", alias
        # reversed alias also resolves and is the mirror of the alias
        rev = get_colormap(alias + "_r")
        # round BOTH sides: qualitative maps sit at i/(n-1) positions
        # whose 1-p mirror differs in the last ulp
        assert sorted(round(p, 12) for p, _ in rev) == sorted(
            round(1.0 - p, 12) for p, _ in stops), alias
    # spot checks
    assert get_colormap("Greys") == COLORMAPS["gray"]
    assert get_colormap("Greys_r") == get_colormap("gray_r")
    assert get_colormap("hsv") == COLORMAPS["rainbow"]


def test_qualitative_colormaps_registered():
    """The matplotlib qualitative families (Tableau/ColorBrewer) are
    first-class stop tables: exact anchor colors at even positions,
    reversible, with REAL tab20/tab20b/tab20c tables (advice r9: they
    are not tab10 extensions) and flagged qualitative so rendering is
    discrete (reference serves these as ListedColormaps via
    util/cmaps.py Qualitative)."""
    from xcube_spark.operators.tiles import (
        COLORMAPS, get_colormap, is_qualitative)

    for name, first, n in (("tab10", (31, 119, 180), 10),
                           ("Set1", (228, 26, 28), 9),
                           ("Set2", (102, 194, 165), 8),
                           ("Set3", (141, 211, 199), 12),
                           ("Dark2", (27, 158, 119), 8),
                           ("Paired", (166, 206, 227), 12),
                           ("Accent", (127, 201, 127), 8),
                           ("Pastel1", (251, 180, 174), 8),
                           ("Pastel2", (179, 226, 205), 8),
                           ("tab20", (31, 119, 180), 20),
                           ("tab20b", (57, 59, 121), 20),
                           ("tab20c", (49, 130, 189), 20)):
        stops = COLORMAPS[name]
        assert len(stops) == n and stops[0] == (0.0, first), name
        assert get_colormap(name + "_r")[-1][1] == first, name
        assert is_qualitative(name) and is_qualitative(name + "_r"), name
    # tab20b is the 4-shades-of-5-hues ladder, unrelated to tab10
    assert COLORMAPS["tab20b"] != COLORMAPS["tab10"]
    assert COLORMAPS["tab20c"][4][1] == (230, 85, 13)  # orange family
    assert not is_qualitative("viridis")
    assert not is_qualitative("Greys")  # alias to sequential gray


# ---- tile route: one cube scan + driver gather vs the pixel-grid join --

_TILE_GRIDS = {
    # coarse global grid: many pixels per cell at every zoom
    "geo": (GRID, "CAST(t_i AS DOUBLE) + 0.1 * y + 0.01 * x"),
    # decreasing-latitude partial grid with NULL cells and edges inside
    # zoom >= 2 tiles
    "inv": (CubeGrid(width=90, height=60, time_periods=2, x_start=-30.0,
                     y_start=-20.0, x_res=0.75, y_res=0.75, inverse_y=True),
            "CASE WHEN (x_i + 2 * y_i) % 7 = 0 THEN NULL"
            " ELSE CAST(t_i AS DOUBLE) + 0.1 * y + 0.01 * x END"),
    # web-mercator metres, strictly positive values (log norm)
    "merc": (CubeGrid(width=200, height=150, time_periods=1,
                      x_start=-2.0e7, y_start=-1.5e7, x_res=2.0e5,
                      y_res=2.0e5, crs="EPSG:3857"),
             "1.0 + 0.05 * x_i + 0.1 * y_i"),
    # wider than a tile at zoom 0: several cells per pixel
    "fine": (CubeGrid(width=720, height=360, time_periods=1, x_res=0.5,
                      y_res=0.5),
             "0.1 * y + 0.01 * x"),
}


@pytest.fixture(scope="module")
def tile_server(spark):
    srv = CubeServer(spark)
    for name, (grid, expr) in _TILE_GRIDS.items():
        srv.add_dataset(name, new_cube(spark, grid, {"v": expr}), grid)
    return srv


def _join_route_tile(spark, cube, g, var, z, y, x, params):
    """The route this change replaced, kept as the byte reference:
    a 256^2 ``spark.range`` pixel grid mapped to cell indices and
    inner-joined to the bbox- and t_i-filtered cube."""
    from xcube_spark.operators.tiles import (TilingScheme,
                                             compute_rgba_tile,
                                             compute_rgba_tile_auto,
                                             render_tile_png)

    scheme = TilingScheme.web_mercator() \
        if params.get("crs", "").upper() == "EPSG:3857" \
        else TilingScheme.geographic()
    t_i = int(params.get("t_i", 0))
    x1, y1, x2, y2 = scheme.tile_bbox(z, x, y)
    res = scheme.resolution(z)
    ts = scheme.tile_size
    src = cube.where(
        (F.col("x") >= x1) & (F.col("x") < x2)
        & (F.col("y") >= y1) & (F.col("y") < y2)
        & (F.col("t_i") == t_i)
    ).select("x_i", "y_i", var)
    px_grid = spark.range(ts * ts).select(
        (F.col("id") % ts).cast("int").alias("px"),
        (F.col("id") / ts).cast("int").alias("py"))
    pxx = F.lit(x1) + (F.col("px") + F.lit(0.5)) * F.lit(res)
    pyy = F.lit(y2) - (F.col("py") + F.lit(0.5)) * F.lit(res)
    px_grid = px_grid.select(
        "px", "py",
        g.x_index_expr(pxx).alias("x_i"),
        g.y_index_expr(pyy).alias("y_i"))
    cells = px_grid.join(src, ["x_i", "y_i"], "inner")
    if "vmin" in params or "vmax" in params:
        rgba = compute_rgba_tile(
            cells, var,
            float(params.get("vmin", 0.0)),
            float(params.get("vmax", 1.0)),
            cmap_name=params.get("cmap", "default"),
            cmap_norm=params.get("norm", "lin"))
    else:
        rgba = compute_rgba_tile_auto(cells, var)
    return render_tile_png(rgba, scheme.tile_size)


_VMM = {"vmin": "-10", "vmax": "12"}
_MERC = {"crs": "EPSG:3857"}
_TILE_CASES = [
    ("geo", 0, 0, 0, _VMM),
    ("geo", 0, 0, 1, {}),
    ("geo", 1, 0, 1, {**_VMM, "cmap": "viridis_r", "t_i": "2"}),
    ("geo", 2, 1, 2, {"vmin": "0.5", "vmax": "12", "norm": "log"}),
    ("geo", 3, 2, 5, {"t_i": "1"}),
    ("geo", 4, 5, 17, {**_VMM, "cmap": "tab10"}),
    ("inv", 0, 0, 0, {}),
    ("inv", 1, 0, 1, _VMM),
    ("inv", 2, 1, 3, {}),  # the grid's west and north edges cross it
    ("inv", 2, 1, 3, {**_VMM, "t_i": "1", "cmap": "tab10"}),
    ("inv", 3, 2, 7, {"vmin": "0.5", "vmax": "5", "norm": "log"}),
    ("inv", 4, 5, 16, {"t_i": "1"}),
    ("inv", 2, 3, 0, _VMM),  # no covered pixel
    ("inv", 2, 3, 0, {}),
    ("merc", 0, 0, 0, {**_MERC, "vmin": "1", "vmax": "30"}),
    ("merc", 1, 1, 0, _MERC),
    ("merc", 2, 1, 2, {**_MERC, "vmin": "1", "vmax": "30", "norm": "log"}),
    ("merc", 3, 3, 4, {**_MERC, "vmin": "1", "vmax": "30",
                       "cmap": "Set1"}),
    ("merc", 4, 7, 8, _MERC),
    ("fine", 0, 0, 0, {}),
    ("fine", 0, 0, 1, {"vmin": "-3", "vmax": "9", "cmap": "viridis"}),
]


@pytest.mark.parametrize("case", _TILE_CASES, ids=[
    "-".join(map(str, c[:4])) + ("-vmm" if "vmin" in c[4] else "-auto")
    for c in _TILE_CASES])
def test_tile_route_matches_join_reference(spark, tile_server, case):
    """The route's PNG bytes equal the pixel-grid join's over zoom
    0-4, both tiling schemes, an inverse-y grid with NULL cells and
    edges inside a tile, an uncovered tile, vmin/vmax and pixel-weighted
    auto stretch, lin and log norms, reversed and qualitative maps."""
    ds_id, z, y, x, params = case
    d = tile_server._get(ds_id)
    want = _join_route_tile(spark, d.cube, d.grid, "v", z, y, x, params)
    assert tile_server._tile(ds_id, "v", z, y, x, params) == want


def _tile_jobs(spark, srv, *args):
    group = "tile-route-" + "-".join(map(str, args[:5]))
    sc = spark.sparkContext
    sc.setJobGroup(group, "one tile request")
    try:
        srv._tile(*args)
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")


def test_tile_route_job_counts(spark, tile_server):
    """A vmin/vmax tile is one Spark job (the filtered scan and its
    Arrow collect); a tile with no covered pixel runs none, with or
    without auto stretch."""
    assert len(_tile_jobs(spark, tile_server, "inv", "v", 3, 2, 7,
                          _VMM)) == 1
    for params in (_VMM, {}):
        assert _tile_jobs(spark, tile_server, "inv", "v", 2, 3, 0,
                          params) == []


def test_tile_route_collect_bounded(tile_server, monkeypatch):
    """A zoom-0 tile over a 720-cell-wide grid collects at most one row
    per tile pixel (the needed cells), not the cells in its bbox."""
    from xcube_spark.operators import tiles

    seen = []
    render = tiles.render_tile_png

    def counting(rgba, *a, **kw):
        seen.append(rgba.count())
        return render(rgba, *a, **kw)

    monkeypatch.setattr(tiles, "render_tile_png", counting)
    tile_server._tile("fine", "v", 0, 0, 0, _VMM)
    assert seen and 0 < seen[0] <= 256 * 256
    assert seen[0] < 360 * 360  # the tile's bbox holds 129,600 cells
