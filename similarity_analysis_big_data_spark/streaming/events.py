"""Structured Streaming over the events table (SURVEY §7 step 6 [ext]).

The batch queries ``sliding_window_event_counts`` and ``sessionization_gap``
(plans/) have streaming twins here: same logical aggregation, expressed as
an unbounded plan with watermarked event-time state. Tests drive them with
``availableNow`` + a memory sink and assert batch/stream agreement — the
exactly-once, late-data-tolerant path a production events pipeline needs.

The fixture's parquet stores TIMESTAMP(NANOS, isAdjustedToUTC=false);
Spark 4.1+ reads that natively as TIMESTAMP_NTZ with µs truncation — the
same type the batch reader sees — so the stream schema declares ts as NTZ
and no conversion is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.timeutil import epoch_micros

# Streaming scans require an explicit schema (no inference mid-stream).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one batch;
    production swaps in kafka with the same downstream plan)."""
    # the file stream source wants a directory; glob-filter to the events
    # table so sibling fixture tables don't enter the stream
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # withWatermark requires an instant-typed TIMESTAMP; lift the NTZ wall
    # clock to the UTC instant with the same wall time via epoch micros —
    # TZ-independent, unlike a plain cast (which reads the wall time in the
    # session zone). The session factory pins timeZone=UTC, so window labels
    # downstream match the batch/oracle wall-clock buckets.
    return raw.withColumn("ts", F.timestamp_micros(epoch_micros("ts")))


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``sliding_window_event_counts``: 1-hour
    event-time windows hopping every 15 minutes, with a 2-hour watermark
    bounding state. Append-mode safe: a window closes (and emits exactly
    once) when the watermark passes its end; state grows by the
    window/slide overlap factor (4), still watermark-bounded."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Streaming sessionization via session_window (the stateful twin of the
    batch lag+cumsum sessionization_gap query): a 30-minute gap closes a
    session, under a 2-hour watermark."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


# Every streaming twin's state is bounded (windows x keys, or keys within
# the watermark), so all of them run 8 state partitions.
STREAM_SHUFFLE_PARTITIONS = 8


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str | None = None,
) -> DataFrame:
    """Drive a streaming plan over all currently-available input and return
    the materialized result (test/bench harness; production uses a real
    sink with checkpointing).

    The streaming STATE runs on ``STREAM_SHUFFLE_PARTITIONS`` partitions
    (Spark reads ``spark.sql.shuffle.partitions`` once at stream start and
    pins it in the checkpoint): each state partition is an independent
    state store whose open/commit cost is paid every micro-batch, so a
    production deployment sizes the count to state volume — up for a
    high-cardinality keyspace, down for a bounded one (a windowed rollup
    holds |windows|x|keys| rows no matter how many partitions hold them),
    not the batch width. In a real deployment this is per-streaming-job
    spark-submit conf; the shared-session harness emulates that by setting
    and restoring the session value around the (synchronous) availableNow
    drain."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
        query = (
            stream_df.writeStream.outputMode(
                output_mode or ("complete" if _is_agg(stream_df) else "append")
            )
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.sql(f"SELECT * FROM {name}")


def _is_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()


def interval_join_stream(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """STREAM-STREAM inner join: every purchase within 30 minutes after a
    click by the same user — the streaming twin of the batch
    ``interval_join_click_purchase`` query (plans/relational.py).

    Both sides carry 2-hour watermarks and the join condition carries an
    event-time band, so Spark can bound each side's join state: a buffered
    click is dropped once the purchase-side watermark passes click_ts +
    band (inner joins additionally emit matches eagerly, without waiting
    for the watermark). Without the time bound the state store would grow
    without limit — the unbounded-state trap of naive stream joins."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .alias("c")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .alias("p")
    )
    cond = F.expr(
        "c.user_id = p.user_id AND p.ts > c.ts "
        "AND p.ts <= c.ts + interval 30 minutes"
    )
    return c.join(p, cond).select(
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.user_id").alias("user_id"),
        F.timestamp_diff("MICROSECOND", F.col("c.ts"), F.col("p.ts")).alias(
            "micros_to_purchase"
        ),
        F.col("c.ts").alias("click_ts"),
    )


def enriched_event_stream(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch hash-joins against
    the (small, broadcast) static dimension — the canonical fact-stream ⋈
    dim-table shape. Stateless, so append-mode with no watermark
    requirement; the static side is re-resolved per batch, which is what
    makes slowly-changing dims pick up updates between batches. The
    dim-miss null fill lives HERE — the streamed rows carry the final
    enriched value, so sinks/consumers never re-derive it."""
    dim = F.broadcast(users)
    return events.join(dim, "user_id", "left").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
    )
