"""Per-call fixed costs on the query path.

Two costs used to recur on every call of a query: a Spark job that
inferred each table's Parquet schema, and a ``persist()`` that was never
unpersisted (a cached relation every later call scanned). These tests
count jobs with a job group and Spark's status tracker, check that the
session's cache is empty after the analytics keys run, and lint the
package for pins without a matching ``unpersist``.
"""

from __future__ import annotations

import ast
import itertools
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from pyetl_spark import registry
from pyetl_spark.queries.llm_scale import ivfpq_bench_build, ivfpq_bench_search
from pyetl_spark.tables import load_tables, read_parquet

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.fast

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pyetl_spark"

#: The relational keys of the analytics benchmark workload.
ANALYTICS_KEYS = (
    "agg_groupby_pricing",
    "join_multi_3way",
    "win_topk_per_group",
    "win_running_sum",
    "agg_cube",
    "etl_latest_per_key",
    "ts_resample_ohlc",
    "events_rollup_multi_grain",
)

#: (file relative to the package, function) -> why its pin outlives the call.
PIN_ALLOWLIST = {
    ("sources/json_ingest.py", "split_clean_and_quarantine"):
        "returns the cached frame's clean and quarantine halves by design: "
        "Spark refuses queries over only the corrupt-record column of a raw "
        "JSON scan, and the caller owns the unpersist",
}

_group_ids = itertools.count()


def _jobs_fired(spark, fn) -> int:
    """Run ``fn`` under a fresh job group; returns the Spark jobs it fired."""
    sc = spark.sparkContext
    group = f"read-path-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------------------ schema cache


def test_second_table_read_fires_no_job(spark):
    load_tables(spark, SF_SMOKE).lineitem  # the first read may infer
    assert _jobs_fired(spark, lambda: load_tables(spark, SF_SMOKE).lineitem) == 0


def test_second_ivfpq_search_build_fires_no_job(spark):
    search = ivfpq_bench_search(ivfpq_bench_build(spark, SF_SMOKE))
    first = search(spark, SF_SMOKE)
    again = []
    assert _jobs_fired(spark, lambda: again.append(search(spark, SF_SMOKE))) == 0
    assert again[0].schema == first.schema


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 1))  # a new version
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert df.collect()[0]["b"] == "x"


def test_timestamp_ntz_inference_is_part_of_the_cache_key(spark, tmp_path):
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    was = spark.conf.get(conf)
    path = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), path)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
    spark.conf.set(conf, "false")
    try:
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(conf, was)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"


def test_nanos_as_long_is_part_of_the_cache_key(spark, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    was = spark.conf.get(conf)
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    spark.conf.set(conf, "false")
    try:
        # inferred afresh: Spark rejects TIMESTAMP(NANOS) without the conf,
        # where the cached bigint schema would have been reused silently
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(conf, was)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"


# ------------------------------------------------------------ leak guard


def test_analytics_keys_leave_no_cached_relation(spark):
    registry.load_all()
    spark.catalog.clearCache()
    leaked = []
    for key in ANALYTICS_KEYS:
        registry.QUERIES[key](spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
        if not _cache_is_empty(spark):
            leaked.append(key)
            spark.catalog.clearCache()
    assert leaked == []


def _calls(node: ast.AST, names: set[str]):
    for sub in ast.walk(node):
        if (
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Attribute)
            and sub.func.attr in names
        ):
            yield sub


def _pins_without_unpersist(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``.persist()`` / ``.cache()``
    call whose innermost enclosing function never calls ``unpersist``."""
    tree = ast.parse(source)
    parents = {
        child: parent
        for parent in ast.walk(tree)
        for child in ast.iter_child_nodes(parent)
    }
    found = []
    for call in _calls(tree, {"persist", "cache"}):
        fn = parents.get(call)
        while fn is not None and not isinstance(
            fn, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            fn = parents.get(fn)
        if fn is None or not any(_calls(fn, {"unpersist"})):
            found.append((fn.name if fn else "<module>", call.lineno))
    return found


def test_pin_lint_flags_a_pin_without_unpersist():
    leaky = "def f(df):\n    return df.persist()\n"
    paired = "def f(df):\n    df = df.cache()\n    df.count()\n    df.unpersist()\n"
    assert _pins_without_unpersist(leaky) == [("f", 2)]
    assert _pins_without_unpersist(paired) == []


def test_every_pin_is_unpersisted_or_allowlisted():
    offenders = []
    used = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _pins_without_unpersist(path.read_text()):
            if (rel, fn) in PIN_ALLOWLIST:
                used.add((rel, fn))
            else:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert offenders == [], "pins without unpersist: " + ", ".join(offenders)
    assert used == set(PIN_ALLOWLIST), "stale allowlist entries"
