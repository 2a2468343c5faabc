"""``batch``: repeated passes over a fixed set of registry queries.

This is the analyst's throughput path: each op is ``q.fn(spark, sf)``
(plan build, including any jobs the build runs) followed by
``.toArrow()`` (execution and driver materialization).  No tiles, no
writes.  Every result is checked against a golden digest derived from
the query's DuckDB oracle (``make_golden.py``).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import time

from harness import median, run_units, warm_up

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")

#: The query set, a cross-section of the frozen ``BENCH_SET``: plan
#: build that runs jobs (minhash, textrank, knn_pq), window folds
#: (ema), the relational star aggregate (q1), the CRS rewrite targets
#: (reproject, rectify) and the Python boundary (byte histogram).  All
#: 24 rows do not fit the run budget: one cold pass over them takes
#: about 47 s on 4 cores at sf0.01.
QUERIES = (
    "q1_pricing_summary",
    "events_ema",
    "doc_textrank_keywords",
    "cube_reproject_utm",
    "emb_knn_pq",
    "doc_byte_histogram",
)

FULL = {"sf": "sf0.01", "warm_units": 3}
SMOKE = {"sf": "sf0.001", "warm_units": 0}


def _plain(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def digest(rows, columns) -> dict:
    """Row count, sorted column names and an order-insensitive value
    hash, in ``scripts/verify_oracle.py``'s ``normalize`` shape: columns
    sorted by name, floats printed with 6 decimals, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for row in rows:
        vals = []
        for i in order:
            v = _plain(row[i])
            vals.append(f"{v:.6f}" if isinstance(v, float) else str(v))
        lines.append("\x01".join(vals))
    lines.sort()
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(columns), "sha256": h}


def arrow_digest(table) -> dict:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest(list(zip(*data)), cols)


def run(ctx, cfg) -> tuple[dict, dict]:
    """Returns (end-to-end metrics, per-layer metrics)."""
    from xcube_spark.queries import load_all

    tr = ctx.tracer
    registry = load_all()
    with open(GOLDEN) as f:
        golden = json.load(f)[cfg["sf"]]
    sf_dir = os.path.join(HERE, "data", cfg["sf"])
    ctx.setup_done()

    def op(name: str) -> dict:
        q = registry[name]
        rec = {"name": name, "build_s": 0.0, "exec_s": 0.0}
        try:
            with tr.span(f"queries.{name}", op=tr.new_op()):
                t0 = time.perf_counter()
                with tr.group(name, "build"), tr.span("queries.build"):
                    df = q.fn(ctx.spark, sf_dir)
                t1 = time.perf_counter()
                with tr.group(name, "exec"), tr.span("queries.exec"):
                    table = df.toArrow()
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1)
            got = arrow_digest(table)
            ctx.ops.record(got == golden[name], f"{name}: {got} != golden")
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            ctx.ops.record(False, f"{name}: {e!r}")
        return rec

    def one_pass() -> list[dict]:
        return [op(n) for n in QUERIES]

    def op_time(recs: list[dict]) -> float:
        """Time a pass spent in the package: plan build and execution
        of each query, not the digest checks between them."""
        return sum(r["build_s"] + r["exec_s"] for r in recs)

    passes = []

    def timed_pass():
        recs = one_pass()
        passes.append({"s": op_time(recs), "traced": tr.enabled,
                       "recs": recs})

    cold = op_time(one_pass())
    warm = warm_up(one_pass, cfg["warm_units"])

    if ctx.trace:
        # alternate untraced and traced passes: the untraced ones give
        # the tracing overhead, the traced ones the layer numbers
        def unit():
            tr.enabled = not tr.enabled
            timed_pass()
        run_units(unit, ctx.seconds, ctx.spark)
        tr.enabled = False
    else:
        run_units(timed_pass, ctx.seconds, ctx.spark)

    plain = [p for p in passes if not p["traced"]]
    ctx.info["warm_s"] = [round(s, 3) for s in warm]
    ctx.info["units_s"] = [round(p["s"], 3) for p in plain]
    ctx.info["query_s"] = {n: round(median(
        r["build_s"] + r["exec_s"] for p in plain for r in p["recs"]
        if r["name"] == n), 3) for n in QUERIES}
    e2e = {"cold_s": cold, "pass_s": median(p["s"] for p in plain)}
    layers = {}
    traced = [p for p in passes if p["traced"]]
    if traced:
        recs = [r for p in traced for r in p["recs"]]
        layers["queries.build_s"] = median(
            sum(r["build_s"] for r in p["recs"]) for p in traced)
        layers["queries.build_jobs"] = (
            tr.total_counts(phase="build")["jobs"] / len(traced))
        for name in QUERIES:
            for phase in ("build_s", "exec_s"):
                layers[f"queries.{name}.{phase}"] = median(
                    r[phase] for r in recs if r["name"] == name)
        layers["units"] = len(traced)
        layers["trace.overhead_frac"] = (
            median(p["s"] for p in traced) / e2e["pass_s"] - 1)
    return e2e, layers


def layer_names() -> list[str]:
    names = ["queries.build_s", "queries.build_jobs"]
    for q in QUERIES:
        names += [f"queries.{q}.build_s", f"queries.{q}.exec_s"]
    return names
