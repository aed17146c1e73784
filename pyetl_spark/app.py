"""Declarative pipeline runner — the reference's configured main loop,
Spark edition (SURVEY.md §3.1: poll → parse → enrich → multi-sink land).

The reference wires one ETL flow from env-var config; here the same flow is
a `PipelineSpec` (plain dataclasses, JSON-friendly) executed batch or
streaming with identical transform code:

    spec = PipelineSpec(
        source=JsonSource(path=..., schema=EVENTS_STREAM_SCHEMA),
        transforms=[
            parse_props_transform(),
            enrich_time_transform(),
            quality_filter_transform(min_value=0.0),
        ],
        sinks=[
            ParquetSink(path=..., partition_by="dt"),
            JsonSink(path=...),
        ],
    )
    run_batch(spark, spec)          # one-shot backfill
    run_streaming(spark, spec, ck)  # incremental, exactly-once

Transforms are named DataFrame→DataFrame callables, so the SAME list runs
in both modes — the property the reference lacked (its loop code was the
only spec).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class JsonSource:
    path: str
    schema: T.StructType
    max_files_per_trigger: int | None = None


@dataclass
class ParquetSink:
    path: str
    partition_by: str | None = None
    mode: str = "overwrite"


@dataclass
class JsonSink:
    path: str
    mode: str = "overwrite"


@dataclass
class PipelineSpec:
    source: JsonSource
    transforms: list[Transform] = field(default_factory=list)
    sinks: list[ParquetSink | JsonSink] = field(default_factory=list)


# ---------------------------------------------------------------- transforms


def parse_props_transform(key: str = "k") -> Transform:
    """Type the JSON props payload (the reference's json.loads step)."""

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn(
            key, F.get_json_object("props", f"$.{key}").cast("int")
        )

    t.__name__ = "parse_props"
    return t


def enrich_time_transform() -> Transform:
    """Derive partition keys from event time (the reference's enrichment)."""

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn("dt", F.to_date("ts")).withColumn(
            "event_hour", F.hour("ts")
        )

    t.__name__ = "enrich_time"
    return t


def quality_filter_transform(min_value: float = 0.0) -> Transform:
    """Drop records failing basic validity (reference: skip bad records)."""

    def t(df: DataFrame) -> DataFrame:
        return df.filter(
            F.col("event_id").isNotNull() & (F.col("value") >= min_value)
        )

    t.__name__ = "quality_filter"
    return t


# ---------------------------------------------------------------- execution


def _apply(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    for t in spec.transforms:
        df = t(df)
    return df


def _write_batch_sinks(df: DataFrame, spec: PipelineSpec) -> int:
    """Write ``df`` once per sink from one cached computation; returns its
    row count, observed during the first write (no extra pass)."""
    if not spec.sinks:  # an Observation fills only when an action runs
        return df.count()
    cached = df.cache()
    obs = Observation("landed")
    counted = cached.observe(obs, F.count(F.lit(1)).alias("rows"))
    try:
        for sink in spec.sinks:
            if isinstance(sink, ParquetSink):
                w = counted.write.mode(sink.mode)
                if sink.partition_by:
                    w = w.partitionBy(sink.partition_by)
                w.parquet(sink.path)
            elif isinstance(sink, JsonSink):
                counted.write.mode(sink.mode).json(sink.path)
            else:  # pragma: no cover
                raise TypeError(f"unknown sink: {sink!r}")
    finally:
        cached.unpersist()
    return obs.get["rows"]


def run_batch(spark: SparkSession, spec: PipelineSpec) -> int:
    """One-shot run: read → transforms → every sink. Returns rows landed."""
    df = spark.read.schema(spec.source.schema).json(spec.source.path)
    return _write_batch_sinks(_apply(df, spec), spec)


def run_streaming(
    spark: SparkSession, spec: PipelineSpec, checkpoint: str
):
    """Incremental run: same transforms per micro-batch, foreachBatch
    fan-out with batch_id idempotency (exactly-once with the checkpoint
    WAL). Returns the started StreamingQuery."""
    reader = spark.readStream.schema(spec.source.schema)
    if spec.source.max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", spec.source.max_files_per_trigger
        )
    stream = reader.json(spec.source.path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        out = _apply(batch_df, spec).withColumn("batch_id", F.lit(batch_id))
        for sink in spec.sinks:
            if isinstance(sink, ParquetSink):
                w = (
                    out.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(
                        *(
                            ["batch_id", sink.partition_by]
                            if sink.partition_by
                            else ["batch_id"]
                        )
                    )
                )
                w.parquet(sink.path)
            elif isinstance(sink, JsonSink):
                # dynamic partition overwrite here too — plain overwrite
                # would wipe prior batches' partitions on every new batch
                (
                    out.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .json(sink.path)
                )

    return (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- upsert


def merge_upsert(
    spark: SparkSession,
    existing_path: str,
    updates: DataFrame,
    key: str,
) -> None:
    """Key-based upsert into a parquet table (no lakehouse format in this
    environment, so: full-outer merge + atomic directory swap — the same
    landing protocol as plans.layout.compact).

    Updates win on key collision; unmatched rows from both sides survive.
    At 100 TB this becomes a partition-scoped merge (dynamic partition
    overwrite) or a real table format's MERGE INTO — the logical plan here
    is exactly what those execute.
    """
    existing = spark.read.parquet(existing_path)
    merged = (
        existing.alias("e")
        .join(updates.alias("u"), key, "full")
        .select(
            *[
                F.coalesce(F.col(f"u.{c}"), F.col(f"e.{c}")).alias(c)
                if c != key
                else F.col(key)
                for c in existing.columns
            ]
        )
    )
    tmp = existing_path.rstrip("/") + "__merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(existing_path)
    shutil.move(tmp, existing_path)
