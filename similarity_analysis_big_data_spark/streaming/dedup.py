"""Streaming deduplication (north-star dedup, streaming flavor).

``dedup_hourly_key_stream``: Spark's built-in stateful exact dedup
(``dropDuplicates``) on an idempotency key whose event-time bucket is the
watermarked column, so each key's state is evicted once the watermark
passes its hour (``stream_twin_dedup`` and ``stream_twin_hourly_dedup``
run it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_hourly_key_stream(events: DataFrame) -> DataFrame:
    """Idempotency-key dedup: one event per (user_id, event_type, hour
    bucket) survives. The key is built from event-time, so a duplicate
    delivery (same user doing the same thing in the same hour) collapses;
    survivor VALUES are not part of the contract — consumers must read
    only key-determined columns, which is why the driver-visible twin
    aggregates over the key columns alone.

    State boundedness: ``dropDuplicates`` only evicts state when the
    WATERMARKED event-time column itself is in the key subset — a derived
    ``date_trunc('hour', ts)`` column carries no watermark metadata, so
    watermarking ``ts`` and keying on the bucket would grow state forever.
    The 2-hour watermark is therefore declared ON ``hour_bucket`` (a legal
    event-time column: truncation shifts each event's time down by <1h,
    which the delay absorbs), making the watermarked column part of the
    dedup key; Spark then drops each (user, type, hour) entry once the
    watermark passes that hour — the bounded-state contract a production
    deployment needs."""
    keyed = events.withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
    return (
        keyed.withWatermark("hour_bucket", "2 hours")
        .dropDuplicates(["user_id", "event_type", "hour_bucket"])
        .select("user_id", "event_type", "hour_bucket")
    )
