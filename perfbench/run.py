"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,ingest} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a source tree that holds the ``xcube_spark``
package.  The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The line before it records the
machine shape (nproc, load average at start and end, Spark version).
``--smoke`` runs the workload at tiny sizes (``test_smoke.py``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "ingest")


def _configure_env(work: str) -> int:
    """Spark and its Python workers run from this tree, on every core
    this process may use, with scratch space inside the tree."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers are started by the JVM and import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    return cpus


class Context:
    """What a workload needs from the run."""

    def __init__(self, spark, tracer, ops, seed, seconds, trace, work):
        self.spark = spark
        self.tracer = tracer
        self.ops = ops
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.setup_s = None
        #: extra facts for the info line (warm-up and unit times)
        self.info = {}

    def setup_done(self) -> None:
        """Marks the end of set-up: imports, session and fixtures."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - T_START


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for them to end."""
    from harness import alive, process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid)[1:] if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def _install_wrappers(tr) -> None:
    """Spans around the public layer functions, from this file."""
    tr.wrap_actions()
    tr.wrap("xcube_spark.operators.tiles", "compute_rgba_tile",
            "operators.tiles.rgba_build")
    tr.wrap("xcube_spark.operators.tiles", "render_tile_png",
            "operators.tiles.render")
    tr.wrap("xcube_spark.operators.timeseries", "get_time_series",
            "operators.timeseries")
    tr.wrap("xcube_spark.operators.statistics", "compute_statistics",
            "operators.statistics")

    from harness import dir_bytes

    def written(n, cube, path, *a, **kw):
        tr.add("zarr_chunks", n)
        tr.add("zarr_bytes", dir_bytes(path))

    tr.wrap("xcube_spark.sources.zarrio", "write_zarr_cube",
            "sources.zarrio.write", on_return=written)
    tr.wrap("xcube_spark.sources.zarrio", "open_zarr_cube",
            "sources.zarrio.open")
    tr.wrap("xcube_spark.pipeline.generator", "generate_cube",
            "pipeline.generator.build")


#: per-layer metrics every workload reports (0 where a workload does
#: not reach the layer); per-unit means a pass, a request or a cycle
COMMON_LAYERS = (
    "session.start_s", "session.jvm_peak_rss_mb",
    "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_bytes", "exec.spill_bytes", "exec.result_rows",
    "exec.py_ms", "exec.py_bytes_sent",
    "operators.tiles.rgba_build_s", "operators.tiles.render_s",
    "operators.timeseries.s", "operators.statistics.s",
    "sources.zarrio.write_s", "sources.zarrio.open_s",
    "sources.zarrio.chunks_written", "sources.zarrio.bytes_written",
    "pipeline.generator.build_s",
    "trace.overhead_frac",
)


def _common_layers(tr, units: int) -> dict:
    from harness import median

    n = max(units, 1)
    counts = tr.total_counts()
    out = {f"exec.{k}": v / n for k, v in counts.items()}
    out["exec.shuffle_bytes"] = tr.plan["shuffle_bytes"] / n
    out["exec.spill_bytes"] = tr.plan["spill_bytes"] / n
    out["exec.result_rows"] = tr.plan["result_rows"] / n
    out["exec.py_ms"] = tr.plan["py_ms"] / n
    out["exec.py_bytes_sent"] = tr.plan["py_bytes_sent"] / n
    for span, key in (
            ("operators.tiles.rgba_build", "operators.tiles.rgba_build_s"),
            ("operators.tiles.render", "operators.tiles.render_s"),
            ("operators.timeseries", "operators.timeseries.s"),
            ("operators.statistics", "operators.statistics.s"),
            ("pipeline.generator.build", "pipeline.generator.build_s")):
        out[key] = median(tr.span_times(span))
    # the zarr layer is reported per unit (an ingest cycle writes twice)
    out["sources.zarrio.write_s"] = sum(tr.span_times("sources.zarrio.write")) / n
    out["sources.zarrio.open_s"] = sum(tr.span_times("sources.zarrio.open")) / n
    out["sources.zarrio.chunks_written"] = tr.counters.get("zarr_chunks", 0) / n
    out["sources.zarrio.bytes_written"] = tr.counters.get("zarr_bytes", 0) / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xcube_spark")):
        print(f"perfbench: no xcube_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    cpus = _configure_env(work)
    from harness import cpu_ticks, steal_frac
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    spark = None
    try:
        import importlib

        from harness import Ops, Tracer, jvm_peak_rss_mb

        workload = importlib.import_module(args.workload)
        cfg = workload.SMOKE if args.smoke else workload.FULL
        from xcube_spark.session import get_session

        t0 = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, args.workload)
        if args.trace:
            _install_wrappers(tracer)
        ctx = Context(spark, tracer, Ops(), args.seed, args.seconds,
                      bool(args.trace), work)
        e2e, layers = workload.run(ctx, cfg)
        info = {"workload": args.workload, "seed": args.seed,
                "nproc": cpus, "load_avg_1m_start": load_start,
                "load_avg_1m_end": os.getloadavg()[0],
                "steal_frac": steal_frac(ticks_start, cpu_ticks()),
                "spark": spark.version, "smoke": args.smoke,
                "errors": ctx.ops.errors, **ctx.info}
        if args.trace:
            units = layers.pop("units", 1)
            layers.update(_common_layers(tracer, units))
            layers["session.start_s"] = session_s
            layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            with open(os.path.join(
                    out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"info": info, "spans": tracer.spans,
                           "job_groups": tracer.counts}, f)
            tracer.unwrap()
            values, spec = layers, bench["per_layer"]
        else:
            e2e["setup_s"] = ctx.setup_s
            values, spec = e2e, bench["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": ctx.ops.failed == 0,
                      "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
