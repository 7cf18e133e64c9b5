"""Structured Streaming operators over the events stream.

The reference has NO streaming (SURVEY §2C — its "streaming" is HTTP chunked
transfer). These are north-star extensions: the same windowed analytics as
operators/events.py, expressed as real streams with watermarks, so the
pipeline can run continuously on a cluster (file/Kafka source → windowed
state → sink) instead of re-scanning batches.

Batch/stream duality: each builder takes any events DataFrame — static or
streaming — and the tests assert the streaming result (availableNow trigger,
memory sink) equals the batch twin's result. That duality is the core Spark
idiom: one logical plan, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_explorer_spark.functions.deterministic import sum_money


def _stage_stream_dir(sf_dir: str) -> str:
    """The streaming file source wants a *directory* to watch. The test data
    is a single parquet file, so stage a landing directory with a symlink —
    exactly the layout a production file-source pipeline tails."""
    import hashlib
    import os

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stage = f"/tmp/ies_stream_{hashlib.md5(src.encode()).hexdigest()[:12]}"
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one input batch per file;
    a production deployment points this at a landing directory or swaps in
    Kafka — the downstream plan is unchanged).

    Streaming file sources need an explicit schema (no inference), and the
    physical flavour of ``ts`` varies by testdata generation. A one-time
    batch footer probe via ``load_table`` — the authority on ts
    normalization — decides the read schema: the NANOS flavour streams as
    epoch-nanos long + DIV-1000 conversion, the MICROS-NTZ flavour streams
    with a TIMESTAMP-typed user schema, which surfaces the raw micros as
    the instant exactly like the batch path (batch/stream duality starts at
    the source)."""
    from iceberg_explorer_spark.sources.registry import _with_ts_as_timestamp

    # Same conf the batch loader needs to even footer-probe the NANOS flavour.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_is_long = isinstance(batch_schema["ts"].dataType, T.LongType)
    if not ts_is_long:
        batch_schema = _with_ts_as_timestamp(batch_schema)
    raw = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_stream_dir(sf_dir))
    )
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """5-minute tumbling windows per event type. The watermark bounds state:
    windows older than (max event time − watermark) are finalized and evicted
    — that bound is what makes this run forever on 100 TB/day."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_money("value").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_user_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """10-minute windows sliding every 5 — each event in exactly 2 windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
        )
    )


def session_aggregates(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Native session windows (merge events within `gap` per user). The
    streaming equivalent of operators/events.py:events_session_window —
    session state merges incrementally instead of a lag+prefix-sum pass."""
    src = events.withWatermark("ts", gap) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_money("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


def stream_dedupe(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id — state bounded by the watermark
    (the streaming twin of operators/dedup.dedup_exact)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete", timeout_s: int = 120
):
    """Drain a stream with the availableNow trigger into a memory sink and
    return the terminal table (test/bench harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return df.sparkSession.table(name)


def purchase_click_join(
    events: DataFrame, watermark: str = "10 minutes", within: str = "5 minutes"
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to the
    same user's clicks in the preceding ``within`` interval (attribution
    join — the streaming twin of operators/joins.asof_join_purchase_click's
    candidate-pairing stage).

    Both sides carry a watermark and the join condition bounds event time on
    both sides, so Spark can evict join state once the watermark passes —
    without the time bound a stream-stream join buffers both streams
    forever. State is keyed by user_id (high-cardinality → even spread);
    size is O(events within the watermark horizon), independent of total
    stream length — the property that lets this run indefinitely at
    100 TB/day. Works identically on static DataFrames (batch twin).
    """
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    if events.isStreaming:
        p = p.withWatermark("p_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (p.user_id == c.c_user_id)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= F.expr(f"p_ts - INTERVAL {within}"))
    )
    return p.join(c, cond, "inner").select(
        "user_id", "purchase_id", "click_id", "purchase_value", "p_ts", "c_ts"
    )


def enrich_with_users(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins a
    static dimension (here a per-user profile built from batch data).

    Spark broadcasts or rescans the static side per micro-batch without any
    streaming state — the idiomatic way to attach slowly-changing reference
    data to a stream. No watermark needed: the static side never grows, so
    there is nothing to evict. At 100 TB/day the dim is broadcast (small) or
    a Delta/Iceberg table AQE keeps as a shuffled join with pushdown.
    """
    return events.join(F.broadcast(user_dim), "user_id", "left").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.coalesce(F.col("user_tier"), F.lit("unknown")).alias("user_tier"),
    )


def running_type_rollup(events: DataFrame) -> DataFrame:
    """Per-event-type running rollup — the streaming form of
    ``events_incremental_rollup``'s merge state: count, exact-decimal value
    sum (surfaced as double), max event time. Every component is
    commutative-associative, which is precisely what lets Structured
    Streaming maintain it incrementally in state storage: each micro-batch
    merges its delta exactly like the batch operator merges a daily delta
    into history. Works identically on a static frame (batch twin for the
    duality test)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        sum_money("value").alias("total_value"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("last_seen_us"),
    )
