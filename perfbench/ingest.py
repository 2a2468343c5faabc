"""``ingest``: write a cube to zarr, regenerate a level, read and serve it.

Each cycle has four steps on a two-variable cube:

1. ``write``: ``new_cube`` -> ``sources.zarrio.write_zarr_cube`` (raw);
2. ``regen``: ``open_zarr_cube`` -> ``pipeline.generator.generate_cube``
   with a 4x spatial downscale -> ``write_zarr_cube`` (level 1);
3. ``read``: ``open_zarr_cube`` (raw) -> ``operators.statistics.
   compute_statistics``, checked against the statistics of the source;
4. ``serve``: the level is opened and registered with ``CubeServer``,
   and one closed-loop client sends it a tile, a time-series and a point
   statistics request over loopback HTTP.

The zarr encode and decode cross the Python boundary
(``applyInPandas`` / ``mapInPandas``), which ``batch`` does not.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import struct
import time
import urllib.request
import zlib

from harness import dir_bytes, median, run_units, warm_up

FULL = {"width": 360, "height": 180, "time_periods": 8,
        "chunks": (1, 45, 45), "warm_units": 1}
SMOKE = {"width": 72, "height": 36, "time_periods": 2,
         "chunks": (1, 18, 36), "warm_units": 0}

STEPS = ("write", "regen", "read", "serve")
ROUTES = ("tile", "series", "statistics")
STATS = ("count", "minimum", "maximum", "mean", "deviation")


def _same_stats(got, want) -> bool:
    return got["count"] == want["count"] and all(
        math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-12)
        for k in STATS[1:])


def png_size(body: bytes) -> tuple[int, int]:
    """Width and height of an RGBA8 PNG whose pixel data inflates to
    the size the header promises."""
    if body[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, width, height = 8, b"", 0, 0
    while pos < len(body):
        (n,) = struct.unpack(">I", body[pos:pos + 4])
        tag, chunk = body[pos + 4:pos + 8], body[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            width, height = struct.unpack(">II", chunk[:8])
        elif tag == b"IDAT":
            idat += chunk
        pos += 12 + n
    if len(zlib.decompress(idat)) != height * (1 + 4 * width):
        raise ValueError("pixel data does not match the header")
    return width, height


def requests(rng: random.Random, periods: int,
             box: float) -> list[tuple[str, str]]:
    """One tile (zoom 1-3), one ``box`` degrees wide time series (mean,
    max) and one point statistics request, at seeded places and times."""
    z = rng.randrange(1, 4)
    x1, y1 = rng.uniform(-180, 180 - box), rng.uniform(-90, 90 - box)
    return [
        ("tile", f"/tiles/l1/sst/{z}/{rng.randrange(1 << z)}/"
                 f"{rng.randrange(2 << z)}?t_i={rng.randrange(periods)}"
                 "&vmin=0&vmax=30"),
        ("series", f"/timeseries/l1/sst?bbox={x1:.3f},{y1:.3f},"
                   f"{x1 + box:.3f},{y1 + box:.3f}&aggMethods=mean,max"),
        ("statistics", f"/statistics/l1/chl?lon={rng.uniform(-180, 180):.3f}"
                       f"&lat={rng.uniform(-90, 90):.3f}"),
    ]


def check(route: str, body: bytes, periods: int) -> bool:
    if route == "tile":
        return png_size(body) == (256, 256)
    result = json.loads(body)["result"]
    if route == "series":
        return len(result) == periods and all(
            r["mean"] is None or r["mean"] <= r["max"] + 1e-9 for r in result)
    return 0 <= result["count"] <= periods


def run(ctx, cfg) -> tuple[dict, dict]:
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.operators import statistics
    from xcube_spark.pipeline import generator
    from xcube_spark.server import CubeServer
    from xcube_spark.sources import zarrio

    tr, spark = ctx.tracer, ctx.spark
    res = 360.0 / cfg["width"]
    grid = CubeGrid(width=cfg["width"], height=cfg["height"],
                    time_periods=cfg["time_periods"], x_res=res, y_res=res,
                    chunks=cfg["chunks"])
    variables = {
        "sst": "CAST(t_i AS DOUBLE) + 0.1 * y + 0.01 * x",
        "chl": ("uniform", ctx.seed, 0.1),
    }
    names = list(variables)
    raw = os.path.join(ctx.work, "raw.zarr")
    level1 = os.path.join(ctx.work, "l1.zarr")
    want = statistics.compute_statistics(
        new_cube(spark, grid, variables), "chl").collect()[0].asDict()
    chunks = math.prod(-(-n // c) for n, c in zip(
        (grid.time_periods, grid.height, grid.width), grid.chunks))
    cells = grid.size * len(names)
    request = generator.CubeGeneratorRequest(variable_names=names,
                                             spatial_factor=4)
    rng = random.Random(ctx.seed)
    srv = CubeServer(spark)
    handle = srv.handle

    def traced_handle(path, params, headers=None):
        route = {"tiles": "tile", "timeseries": "series"}.get(
            path.split("/")[1], "statistics")
        op = int((headers or {}).get("X-Op-Id", 0)) or None
        with tr.span(f"server.handle.{route}", op=op), \
                tr.group(route, "request"):
            return handle(path, params, headers)

    if ctx.trace:
        srv.handle = traced_handle
    base = f"http://127.0.0.1:{srv.start()}"
    ctx.setup_done()

    def write():
        n = zarrio.write_zarr_cube(new_cube(spark, grid, variables), raw,
                                   grid, mode="overwrite")
        return n == chunks * len(names)

    def regen():
        cube, l1_grid = generator.generate_cube(
            spark, zarrio.open_zarr_cube(spark, raw), grid, request)
        with tr.span("pipeline.generator.exec"), tr.group("regen", "exec"):
            n = zarrio.write_zarr_cube(cube, level1, l1_grid, var_names=names,
                                       mode="overwrite")
        return n > 0

    def read():
        got = statistics.compute_statistics(
            zarrio.open_zarr_cube(spark, raw), "chl").collect()[0].asDict()
        return _same_stats(got, want)

    requests_done = []

    l1_grid = grid.downsampled(request.spatial_factor)

    def serve():
        srv.add_dataset("l1", zarrio.open_zarr_cube(spark, level1), l1_grid)
        # a series box 2.5 level-1 cells wide always holds cell centres
        for route, path in requests(rng, grid.time_periods,
                                    2.5 * l1_grid.x_res):
            op = tr.new_op()
            req = urllib.request.Request(base + path,
                                         headers={"X-Op-Id": str(op)})
            t0 = time.perf_counter()
            with urllib.request.urlopen(req, timeout=120) as r:
                body = r.read()
            requests_done.append({"route": route, "op": op, "traced": tr.enabled,
                                  "s": time.perf_counter() - t0})
            if not check(route, body, grid.time_periods):
                raise ValueError(f"{path}: wrong response {body[:200]!r}")
        return True

    cycles = []

    def cycle() -> None:
        times = {}
        t_cycle = time.perf_counter()
        op = tr.new_op()
        for name, step in zip(STEPS, (write, regen, read, serve)):
            t0 = time.perf_counter()
            try:
                with tr.span(f"ingest.{name}", op=op), tr.group(name, "step"):
                    ok = step()
                ctx.ops.record(ok, f"{name}: wrong result")
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                ctx.ops.record(False, f"{name}: {e!r}")
            times[name] = time.perf_counter() - t0
        cycles.append({"s": time.perf_counter() - t_cycle, "traced": tr.enabled,
                       "bytes": dir_bytes(raw), **times})

    try:
        cycle()
        cold = cycles[0]
        warm = warm_up(cycle, cfg["warm_units"])
        cycles.clear()
        if ctx.trace:
            def unit():
                tr.enabled = not tr.enabled
                cycle()
            run_units(unit, ctx.seconds, spark)
            tr.enabled = False
        else:
            run_units(cycle, ctx.seconds, spark)
    finally:
        srv.stop()
        shutil.rmtree(raw, ignore_errors=True)
        shutil.rmtree(level1, ignore_errors=True)

    plain = [c for c in cycles if not c["traced"]]
    ctx.info["warm_s"] = [round(s, 3) for s in warm]
    ctx.info["units_s"] = [round(c["s"], 3) for c in plain]
    e2e = {"cold_s": cold["s"], "pass_s": median(c["s"] for c in plain)}
    layers = {}
    traced = [c for c in cycles if c["traced"]]
    if traced:
        layers["units"] = len(traced)
        for s in STEPS:
            layers[f"ingest.{s}_s"] = median(c[s] for c in plain)
        layers["ingest.stored_bytes_per_cell"] = median(
            c["bytes"] for c in cycles) / cells
        layers["pipeline.generator.exec_s"] = median(
            tr.span_times("pipeline.generator.exec"))
        layers.update(_server_layers(tr, requests_done))
        layers["trace.overhead_frac"] = (
            median(c["s"] for c in traced) / e2e["pass_s"] - 1)
    return e2e, layers


def _server_layers(tr, done) -> dict:
    handled = {s["op"]: s["end"] - s["start"] for s in tr.spans
               if s["name"].startswith("server.handle.")}
    traced = [r for r in done if r["traced"]]
    out = {"server.http_s": median(
        r["s"] - handled[r["op"]] for r in traced if r["op"] in handled)}
    for route in ROUTES:
        out[f"server.handle_s.{route}"] = median(
            tr.span_times(f"server.handle.{route}"))
        n = sum(r["route"] == route for r in traced)
        out[f"server.jobs_per_request.{route}"] = (
            tr.total_counts(op=route)["jobs"] / n if n else 0.0)
        out[f"server.{route}_p50_s"] = median(
            r["s"] for r in done if r["route"] == route and not r["traced"])
    return out


def layer_names() -> list[str]:
    return [f"ingest.{s}_s" for s in STEPS] + [
        "ingest.stored_bytes_per_cell", "pipeline.generator.exec_s",
        "server.http_s"] + [
        f"server.{k}{r}{s}" for k, s in (("handle_s.", ""),
                                         ("jobs_per_request.", ""),
                                         ("", "_p50_s"))
        for r in ROUTES]
