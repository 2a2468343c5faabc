"""Session defaults (xcube_spark/session.py) that only show in a fresh
process: the worker path that lets Python workers import the package."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_from_any_directory(tmp_path):
    """A script run from outside the repo, with only ``sys.path``
    edited and no ``PYTHONPATH``, must run a ``mapInArrow`` job: the
    daemon and the UDF closures import ``xcube_spark`` in the worker,
    which sees the package only through the session's worker path."""
    script = tmp_path / "one_map_in_arrow.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from xcube_spark.session import get_session

        def ident(batches):
            yield from batches

        spark = get_session(master="local[1]", shuffle_partitions=1)
        df = spark.range(8, numPartitions=1)
        print("ROWS", df.mapInArrow(ident, df.schema).count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS 8" in out.stdout
