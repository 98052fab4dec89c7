"""Structured Streaming surface over `events` (SURVEY.md §2.6 T1-T6).

The reference is strictly batch; this module is the driver-contract
streaming layer, built so every streaming transformation shares its
semantics with an oracle-checked batch twin in
``plans/events_queries.py``:

    tumbling          ≙ events_tumbling_hourly
    session_window    ≙ sessionize_bounds (gap semantics)
    dedup-in-watermark≙ dedup_exact on the key

Scale notes: all aggregations are keyed by (window, …) — state is
bounded by watermark eviction; sinks use Update/Append modes, never
Complete, so state and output stay incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money_sum
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stage_events_as_stream_source(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> str:
    """Materialize the batch events table as an N-file parquet directory
    with native (µs) timestamps — a replayable file-stream source
    (each file ≙ one micro-batch under maxFilesPerTrigger=1)."""
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(stage_dir)
    return stage_dir


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


# ---- T2/T3: event-time windows + watermark --------------------------------


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def session_agg(
    stream: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """T2 session windows: same gap semantics as operators/sessionize."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---- T2b: stream-stream interval join --------------------------------------


def click_purchase_interval_join(
    stream: DataFrame, horizon: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream self-join: each click pairs with the
    same user's purchases inside [click_ts, click_ts + horizon].

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so the state store evicts rows once the
    watermark passes click_ts + horizon — bounded state, the
    requirement for an unbounded-input join. Batch twin (oracle-
    checked): ``events_click_purchase_interval``."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {horizon}"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


# ---- T2c: stream-static enrichment join ------------------------------------


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static join: enrich each event with dimension attributes.
    The static side is broadcast per micro-batch (no state store at
    all — unlike stream-stream joins); at 100 TB the dimension is the
    small side by construction, so this is the zero-shuffle enrichment
    path for streams."""
    d = F.broadcast(dim.select(F.col(dim_key).alias("__dk"), *dim_cols))
    return stream.join(d, F.col(stream_key) == F.col("__dk"), "left").drop("__dk")


# ---- T4: stateful dedup ----------------------------------------------------


def dedup_events(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once events by event_id within the watermark horizon —
    bounded state (vs unbounded dropDuplicates)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# ---- sinks -------------------------------------------------------------------


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """availableNow drain into an in-memory table (test/debug sink)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
