"""SparkSession factory with cube-engine defaults.

The defaults are chosen for the driver's local[32] single-JVM test rig
but are the same knobs that matter on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (pandas_udf / mapInPandas hot paths are Arrow-batched),
- shuffle partitions sized to the rig (overridable via env),
- broadcast threshold raised so dimension tables (axis tables, nation,
  region, features) always broadcast rather than shuffle,
- Python daemon ``xcube_spark.util.pyworker``
  (``spark.python.daemon.module``).

The daemon default exists because ``pyspark.worker`` calls
``importlib.invalidate_caches()`` before every task, and on CPython
3.11/3.12 ``zipimport.zipimporter.invalidate_caches`` eagerly re-reads
the central directory of ``pyspark.zip``, the py4j zip and the
spark-core jar on the worker path, once per cached importer: 16
directory reads per task in a warm worker, most of the fixed cost of a
``mapInPandas``/pandas-UDF task.  CPython 3.13 made that method lazy
and the daemon patches nothing there.  The daemon re-reads an archive
only when its mtime or size changed, then runs ``pyspark.daemon``
unchanged.  Worker processes must be able to import ``xcube_spark``
(the daemon and the package's UDF closures need it), so the session
puts the directory that holds the package on their path through
``spark.executorEnv.PYTHONPATH`` (Spark merges it with the workers'
own ``PYTHONPATH``); a script run from any directory works without
exporting it.  Set ``spark.python.daemon.module`` to ``pyspark.daemon``
through ``SPARK_GRAFT_CONF`` to use the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # numpy float-math parity with the reference (x/0 -> inf/NaN, not an
    # error); registry queries stay ANSI-safe so the driver's session
    # setting doesn't matter for the oracle gate
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # guide §3.1 / §9: let the planner pick shuffled-hash over
    # sort-merge when the per-partition build side fits (no sort), and
    # let AQE rewrite SMJ->SHJ at runtime when every post-shuffle
    # partition is under 64 MB.  Measured on the frozen bench: wins on
    # the dedup family (minhash/simhash/substring), flat elsewhere.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
    # guide §4 (the Python boundary): Spark 4's DataFrame debugging
    # captures a Python call-site (inspect stack walk) and pushes it
    # to the JVM (PySparkCurrentOrigin.set + conf read + clear = 3
    # py4j round trips) around EVERY DataFrame/Column API call, purely
    # to decorate error messages with the user's call site.  The
    # expression-heavy builders (reproject/rectify closed forms,
    # unrolled window folds) make thousands of such calls per plan:
    # measured per-invocation build time with it off — reproject_utm
    # 0.74->0.27 s, events_ema 0.78->0.15 s, rectify rows -0.17 s.
    # Re-enable for debugging via SPARK_GRAFT_CONF.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # fixed per-task Python cost: the daemon patches CPython < 3.13's
    # eager zipimporter.invalidate_caches (see module docstring and
    # xcube_spark/util/pyworker.py)
    "spark.python.daemon.module": "xcube_spark.util.pyworker",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true",
}


def get_session(
    app_name: str = "xcube_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the same CPU count — on a real
    cluster you would size this to ~2-3x total cores and let AQE
    coalesce; both are honored here.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(cpus)
    # worker processes import xcube_spark; Spark puts this entry after
    # pyspark's own and before the worker environment's PYTHONPATH
    conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    # deployment/scale overrides from the environment (JSON map of
    # conf key -> value): production values (bigger shuffle partition
    # counts, cluster codecs, ...) stay parameterised while the local
    # defaults keep the driver's bench comparable
    env_conf = os.environ.get("SPARK_GRAFT_CONF")
    if env_conf:
        import json

        conf.update({str(k): str(v)
                     for k, v in json.loads(env_conf).items()})
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: conf the engine depends on that is settable at RUNTIME on any session
#: (a driver-owned session may default to ANSI mode or a local timezone;
#: the oracle comparisons assume UTC windows and non-ANSI float math)
_RUNTIME_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine conf to an externally created
    session (idempotent, cheap)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass
    return spark
