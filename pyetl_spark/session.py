"""Session factory + tuning (SURVEY.md §7 Stage 0).

The reference is a single-process, env-var-configured consumer loop
(SURVEY.md §1.1, §3.1). The Spark-native equivalent of its runtime knobs is a
set of SQL confs. Two of them are *correctness* requirements, not tuning:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events`` fixture
  stores ``ts`` as Parquet TIMESTAMP(NANOS), which Spark 4.x refuses to read
  otherwise (FIXTURES.md gotcha 1).
- ``spark.sql.session.timeZone=UTC`` — oracle (DuckDB) parity for every
  timestamp-derived value (FIXTURES.md gotcha 3).

``tune()`` applies confs onto an *existing* session (the driver passes us its
own SparkSession), so every entry point calls it idempotently. All of these
are runtime-settable SQL confs.

Scale posture: AQE is on (coalesce partitions + skew-join splitting) so the
same plans that run on local[32] fixtures re-plan sensibly on a 1000-executor
cluster; initial shuffle partitions come from PYETL_SHUFFLE_PARTITIONS (at
100 TB you raise it to ~2-4x total cores and let AQE coalesce down).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

#: Confs applied to every session this engine touches. Keys are all runtime-
#: settable SQL confs (no spark.* static confs here by design).
ENGINE_CONFS: dict[str, str] = {
    # correctness (oracle parity)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # adaptive execution: re-plan at shuffle boundaries, coalesce small
    # shuffles (fixture scale), split skewed partitions (100 TB scale)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # initial shuffle parallelism; AQE coalesces below this as data allows
    "spark.sql.shuffle.partitions": os.environ.get(
        "PYETL_SHUFFLE_PARTITIONS", "32"
    ),
    # Arrow for every Python boundary we do cross (pandas UDFs, toPandas)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine confs onto an existing session (idempotent)."""
    for key, value in ENGINE_CONFS.items():
        spark.conf.set(key, value)
    return spark


def get_session(app_name: str = "pyetl-spark") -> SparkSession:
    """Build (or fetch) a local session with engine confs pre-applied.

    Used by tests and bench.py; the driver harness passes its own session,
    which goes through ``tune()`` instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("PYETL_MASTER", f"local[{cpus}]"))
        .config("spark.ui.enabled", "false")
        # keep stage-progress bars out of stdout — the driver's bench
        # harness preserves only a ~2 KB stdout tail, and progress-bar
        # spew is what truncated BENCH_r03's JSON line past parseability
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("PYETL_DRIVER_MEM", "8g"))
    )
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    return tune(builder.getOrCreate())


def ship_by_value(module_name: str) -> None:
    """Pickle ``module_name``'s code into Python-worker task closures.

    Closures handed to mapInPandas, applyInPandas and Python data sources
    call module-level helpers, which cloudpickle serializes by REFERENCE
    to ``pyetl_spark...``. That import works where the repo is on the
    executors' PYTHONPATH (pytest from the repo root) and fails when a
    driver imports the package from elsewhere. Registering the module for
    by-value pickling ships its code inside each task instead: the posture
    a real cluster needs unless the package is installed on every
    executor. It must be pyspark's VENDORED cloudpickle — workers
    deserialize through pyspark.serializers, which never sees
    registrations made on the standalone cloudpickle package."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[module_name])
