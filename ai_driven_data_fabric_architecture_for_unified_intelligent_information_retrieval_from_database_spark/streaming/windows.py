"""Structured Streaming variants of the event-time operators.

The batch plans in ``operators/events.py`` are the semantic ground truth;
these build the *same expressions* over ``readStream`` — Spark's
batch/stream unification means the logical plan is shared and only the
source/sink differ. Watermarks bound state: an aggregation window (or
session) is emitted and evicted once the watermark passes it, which is what
makes these runnable forever on an unbounded 100 TB/day event feed.

Testing model (see tests/test_streaming.py): drive the stream from the
static events parquet with ``availableNow`` + a memory sink, then compare
against the batch operator — the Spark-sanctioned way to prove a streaming
pipeline's semantics without a live source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_parquet, register_views
from ..sources.warehouse import warehouse_scratch_dir


def events_stream(
    spark: SparkSession, sf_dir: str, stage_dir: str | None = None
) -> DataFrame:
    """readStream over the events table (schema from the batch catalog;
    streaming sources require an explicit schema). The TIMESTAMP(NANOS)
    conversion from the catalog applies identically.

    The file-stream source only accepts directories; the test corpus is a
    single parquet file, so stage a symlink directory for it (a real
    deployment points this at the landing directory / Kafka instead).
    File-source offsets are tracked by path, so checkpointed incremental
    consumers must pass a FIXED ``stage_dir`` across calls — a fresh
    scratch dir makes every drain see "new" files and reprocess history.
    The default scratch dir lives under the warehouse root (the
    executor-shared filesystem), never driver-local /tmp — r09 verdict
    item 2: executors must be able to open the staged paths.
    """
    register_views(spark, sf_dir)  # pins session confs (UTC, nanosAsLong)
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = read_parquet(spark, src).schema
    if stage_dir is None:
        stage_dir = warehouse_scratch_dir(spark, "evstage")
    else:
        os.makedirs(stage_dir, exist_ok=True)
    link = os.path.join(stage_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    stream = spark.readStream.schema(raw_schema).parquet(stage_dir)
    return _with_event_time(stream)


def _with_event_time(stream: DataFrame) -> DataFrame:
    """Normalize the raw ``ts`` column to a watermarkable TIMESTAMP.

    Watermarks require TIMESTAMP (not NTZ); under the pinned UTC session
    the wall-clock values are identical to the batch catalog's NTZ ones.
    The bigint branch handles TIMESTAMP(NANOS) parquet read under the
    session's nanosAsLong conf."""
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def events_stream_from_dir(
    spark: SparkSession,
    sf_dir: str,
    parts_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over an arbitrary directory of event part files (schema
    taken from the canonical corpus at ``sf_dir``) — the multi-micro-batch
    form of :func:`events_stream`. With ``max_files_per_trigger=1`` an
    AvailableNow drain processes one file per micro-batch in the source's
    file order (oldest mtime first), which is how the tests replay the
    corpus as an out-of-order multi-batch feed."""
    register_views(spark, sf_dir)  # pins session confs (UTC, nanosAsLong)
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    return events_stream_from_stage(
        spark, parts_dir, raw_schema, max_files_per_trigger
    )


def events_stream_from_stage(
    spark: SparkSession,
    parts_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a staged directory with an EXPLICIT schema — the
    corpus-dir-free form of :func:`events_stream_from_dir`, for feeds
    staged from an already-registered relation (the NL engine's
    streaming route) rather than from a canonical sf_dir. The caller is
    responsible for session conf pinning (register_views has already run
    wherever a staged relation exists)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _with_event_time(reader.parquet(parts_dir))


def dedup_keyed(events: DataFrame, watermark: str = "90 days") -> DataFrame:
    """Idempotency-key dedup plan shared by the registry entry
    (streaming_dedup_watermark) and the multi-batch replay test: at most
    one row per (user_id, event_type, minute), state bounded by the
    watermark. Kept in one place so the tested plan can never drift from
    the registered one."""
    keyed = events.withColumn("minute_ts", F.date_trunc("minute", F.col("ts")))
    return (
        keyed.withWatermark("minute_ts", watermark)
        .dropDuplicates(["user_id", "event_type", "minute_ts"])
        .select("user_id", "event_type", "minute_ts")
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/events.py::events_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sliding_value_sums(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of events_sliding_window (1h windows, 30m slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions via the native ``session_window`` operator —
    the streaming-stateful form of events_sessionize (watermark evicts
    closed sessions from the state store)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-per-key dedup: dropDuplicates bounded by a
    watermark (state for ids older than the watermark is evicted)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str | None = None
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (Trigger.AvailableNow) into a memory sink; return the materialized
    result as a batch DataFrame. Aggregations default to complete mode,
    row streams to append; stateful applyInPandasWithState plans declare
    their own mode — pass it explicitly."""
    q = (
        stream_df.writeStream.outputMode(
            output_mode or ("complete" if _is_agg(stream_df) else "append")
        )
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def _is_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()


def view_purchase_conversions(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: each purchase matched to the same user's
    views from the preceding hour (conversion attribution).

    Both sides carry watermarks and the join condition bounds event-time
    distance — that pair is what lets Spark evict buffered rows from the
    join state instead of holding both streams forever (state is
    O(watermark window), not O(stream length)). The same code runs as a
    plain batch inequality join when ``events`` is a static frame.
    """
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if events.isStreaming:
        views = views.withWatermark("view_ts", "2 hours")
        purchases = purchases.withWatermark("purchase_ts", "2 hours")
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("v_user", "view_ts", "purchase_ts", "purchase_value")


def run_foreach_batch_append(
    stream_df: DataFrame, path: str, query_name: str = "fb_append"
) -> None:
    """Drain a streaming plan into an append-only parquet directory via
    ``foreachBatch`` — the general-purpose streaming sink: each micro-batch
    arrives as a *batch* DataFrame, so any batch writer (parquet here, but
    equally JDBC/Delta/bucketed tables) becomes a streaming sink with
    batch-id-based replay protection left to the writer's idempotence.

    This is the streaming twin of sources/connectors.py::append_query_log
    and the scaled-up form of the reference's query-log INSERT
    (core/ai_query_generator.py:364-377).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
