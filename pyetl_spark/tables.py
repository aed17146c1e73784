"""Table loader — the single choke point for fixture schemas (SURVEY §7 Stage 0).

Loads the ten parquet tables the engine is tested against and absorbs the one
schema landmine centrally: ``events.ts`` has shipped as Parquet
TIMESTAMP(NANOS) (read under ``nanosAsLong=true`` as bigint epoch-nanos →
converted with integer ns→µs division; float division would lose precision at
1.7e18) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read by Spark 4 as
TIMESTAMP_NTZ → cast to TIMESTAMP, exact because the session tz is UTC).
Either way DuckDB sees the same microsecond values natively, so oracle hashes
are unaffected by the fixture's storage type.

At 100 TB the loader is where partition discovery, ANALYZE stats, and bucketed
table registration would live; for the fixtures it stays a thin wrapper so
every query compiles to a plain vectorized parquet scan with pushdown intact.

Every read goes through ``read_parquet``, which infers a file's schema once
per file version: inference reads Parquet footers in a Spark job, and the
query path reads the same tables on every call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyetl_spark.session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs that decide which of the two ``events.ts`` branches in
#: ``load_table`` an inferred schema takes, so they are part of its version.
_TS_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: path -> ((st_mtime_ns, *conf values), inferred schema). Shared by every
#: session in the process: a new file version or conf value replaces the
#: path's entry, and two readers racing on one path cost one extra
#: inference, never a wrong schema.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version.

    The first read of a path infers its schema, which fires a Spark job
    that reads the footers. Later reads of the same version pass that
    schema, so building the plan fires no job. The version is the path's
    ``st_mtime_ns`` and the session's timestamp-inference confs. A path
    that cannot be ``stat``-ed (a remote scheme) is inferred on every read.
    """
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return spark.read.parquet(path)
    version = (mtime, *(spark.conf.get(c) for c in _TS_INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing schema quirks."""
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns epoch → µs timestamp; integer division matches DuckDB exactly.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
            # TIMESTAMP_NTZ, which unix_micros/window() reject. The session tz
            # is pinned UTC (session.py), so this cast is bit-preserving and
            # lands on the exact micros DuckDB reads natively.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class Tables:
    """Lazy named access to the fixture tables of one scale-factor dir.

    ``t.lineitem`` etc. return DataFrames; each access builds a fresh scan
    so callers can't accidentally share cached plans across queries. The
    first access to a table infers its schema in a Spark job; later
    accesses reuse that schema (``read_parquet``) and fire no job.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        tune(spark)  # driver-provided sessions need the confs too
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return load_table(self._spark, self._sf_dir, name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view (for spark.sql entry points)."""
        for name in TABLE_NAMES:
            load_table(self._spark, self._sf_dir, name).createOrReplaceTempView(
                name
            )


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)
