"""Derive ``golden.json``, the digests the ``batch`` workload checks.

    python3 perfbench/make_golden.py

For every query of ``batch.QUERIES`` and every data scale under
``perfbench/data``, runs the query's DuckDB oracle and stores its row
count, column names and value hash.  It also runs the query on Spark and
refuses to write digests the Spark result (read through ``toArrow``, as
the benchmark reads it) does not reproduce.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
os.environ["PYTHONPATH"] = os.pathsep.join(sys.path[:2])

import duckdb  # noqa: E402

import batch  # noqa: E402


def main() -> int:
    from xcube_spark.queries import TABLES, load_all
    from xcube_spark.session import get_session

    registry = load_all()
    spark = get_session(app_name="perfbench-golden")
    golden, bad = {}, []
    for sf in sorted(os.listdir(os.path.join(HERE, "data"))):
        sf_dir = os.path.join(HERE, "data", sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        golden[sf] = {}
        for name in batch.QUERIES:
            cur = con.execute(registry[name].sql)
            want = batch.digest(cur.fetchall(), [d[0] for d in cur.description])
            got = batch.arrow_digest(registry[name].fn(spark, sf_dir).toArrow())
            if got != want:
                bad.append(f"{sf} {name}: spark {got} != oracle {want}")
            golden[sf][name] = want
    spark.stop()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(batch.GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
