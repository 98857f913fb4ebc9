"""Structured Streaming over the events table (SURVEY.md §7 Phase 5).

The reference has no streaming surface at all — this layer exists because
the driver's testdata includes an event stream, and because at 100 TB the
ingest path of a triple/document store IS a stream. Every operator here
is the streaming twin of a batch query in queries/events_queries.py: the
same logical plan, plus watermarks for state eviction.

Scale notes: all aggregations are keyed by (window, event_type) or
user_id, so state is bounded by watermark horizon × key cardinality;
dropDuplicatesWithinWatermark keeps exactly one state entry per event_id
inside the horizon — the streaming version of the reference's
unique-(subj,pred,obj) insert semantics (triplestore.go:42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream of events parquet (a stand-in for Kafka: the
    transformations downstream are source-agnostic).

    File streams need a declared schema, but the testdata's ``ts`` physical
    type varies (TIMESTAMP(NANOS) surfaces as long under
    ``nanosAsLong``; TIMESTAMP(MICROS) reads as a native timestamp) — peek
    at the footer with the batch reader and adapt, mirroring
    catalog.load_table's convert-only-if-long rule.
    """
    static = (
        spark.read.option("pathGlobFilter", "events*.parquet").parquet(directory)
    )
    ts_is_long = isinstance(static.schema["ts"].dataType, T.LongType)
    raw = (
        spark.readStream.schema(
            _events_stream_schema(T.LongType() if ts_is_long else T.TimestampType())
        )
        .option("pathGlobFilter", "events*.parquet")
        .parquet(directory)
    )
    if ts_is_long:
        # long nanos → truncate to micros, same as the batch path
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window aggregation with late-data watermark — the
    streaming twin of events_hourly_rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def ohlc_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming hourly OHLC bars — the twin of events_ohlc_bars.
    Open/close via struct MIN/MAX over (ts, event_id, value): both are
    ordinary aggregates, so they fold incrementally inside the
    watermarked window state like any min/max — no ordering or
    arrival-order dependence (the struct minimum is the same whichever
    micro-batch carried it)."""
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    two = F.lit(100.0)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            (F.floor(first["value"] * two + F.lit(0.5)) / two).alias("open"),
            (F.floor(F.max("value") * two + F.lit(0.5)) / two).alias("high"),
            (F.floor(F.min("value") * two + F.lit(0.5)) / two).alias("low"),
            (F.floor(last["value"] * two + F.lit(0.5)) / two).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("volume"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "open", "high", "low", "close", "n_events", "volume",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once semantics per event_id within the watermark horizon
    (streaming twin of the idempotent insert, triplestore.go:134-148)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (session_window) — the streaming twin of
    the lag-gap batch sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def anomaly_stream(
    events: DataFrame, baseline: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming volume-anomaly detection via a stream-static join: the
    live hourly (type, hour) counts join per-type baseline moments
    (mean/variance of historical hourly counts, a STATIC DataFrame
    computed batch-side — e.g. by queries/behavior_queries.py's moment
    aggregation over yesterday's data) and emit hours whose z-score
    exceeds 2.

    Stream-static joins need no state for the static side: Spark
    broadcasts/rescans the baseline per micro-batch, so the only
    streaming state is the windowed count aggregation bounded by the
    watermark. ``baseline`` columns: event_type, mean, std (std > 0).
    """
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("hour"), "event_type", "n")
    )
    z = (F.col("n").cast("double") - F.col("mean")) / F.col("std")
    return (
        hourly.join(baseline, "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.0)
        .select("event_type", "hour", "n", "z")
    )


def click_to_purchase_join(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """STREAM-STREAM inner join: every click matched to the same user's
    purchases within ``within`` afterward — conversion attribution as a
    continuous join. Both sides carry watermarks and the join condition
    bounds purchase_ts ∈ [click_ts, click_ts + within], which is what
    lets Spark expire join state: a buffered click can be dropped once
    the purchase-side watermark passes click_ts + within (state is
    bounded by watermark + tolerance, not by stream length — the thing
    that makes stream-stream joins viable at all)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")


def run_available_now(stream_df: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "append"):
    """Drain the stream with the availableNow trigger into an in-memory
    sink; returns after completion (test/dev harness; production sinks
    swap format for parquet/Delta/Kafka)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
