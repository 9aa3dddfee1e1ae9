"""Streaming/batch agreement tests (streaming/events.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.plans.registry import QUERIES, _load_all
from similarity_analysis_big_data_spark.streaming.events import (
    read_event_stream,
    run_to_memory,
    session_window_counts,
    windowed_event_counts,
)

_load_all()


def test_streaming_sessionization_runs(spark, sf_smoke):
    stream = read_event_stream(spark, sf_smoke)
    got = run_to_memory(session_window_counts(stream), "stream_sessions")
    rows = got.collect()
    assert len(rows) > 0
    # session event counts must sum to the full event count
    total = sum(r["n_events"] for r in rows)
    assert total == 1000


def test_stream_static_enrichment_join(spark, sf_smoke):
    from similarity_analysis_big_data_spark.streaming.events import enriched_event_stream

    users = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("segment"),
    )
    stream = read_event_stream(spark, sf_smoke)
    got = run_to_memory(enriched_event_stream(stream, users), "stream_enriched")
    rows = got.collect()
    assert len(rows) == 1000
    matched = [r for r in rows if r["segment"] is not None]
    assert matched and all(
        r["segment"] == ("even" if r["user_id"] % 2 == 0 else "odd") for r in matched
    )


def test_foreachbatch_output_matches_batch_oracle(spark, sf_smoke):
    """VERDICT r1 #8: drive the streaming rollup through a foreachBatch sink
    and compare the emitted result against the DUCKDB oracle of the batch
    twin (sliding_window_event_counts) — stream, batch, and oracle all agree."""
    from .oracle import duckdb_conn

    collected = []

    def sink(batch_df, _batch_id):
        collected.extend(batch_df.collect())

    stream = read_event_stream(spark, sf_smoke)
    q = (
        windowed_event_counts(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in collected
    }
    conn = duckdb_conn(sf_smoke)
    try:
        oracle = conn.execute(QUERIES["sliding_window_event_counts"].oracle).fetchdf()
    finally:
        conn.close()
    oracle_rows = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in oracle.itertuples()
    }
    assert stream_rows == oracle_rows


def test_streaming_sliding_windows_match_batch(spark, sf_smoke):
    """Hopping (1h window / 15min slide) streaming aggregation equals the
    batch sliding_window_event_counts query on the same fixture."""
    stream = read_event_stream(spark, sf_smoke)
    got = run_to_memory(windowed_event_counts(stream), "stream_sliding")
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in QUERIES["sliding_window_event_counts"].fn(spark, sf_smoke).collect()
    }
    assert stream_rows == batch_rows


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke):
    """Stream-stream inner join with watermarked, time-banded state must
    produce exactly the batch interval join's pairs."""
    from similarity_analysis_big_data_spark.streaming.events import interval_join_stream

    joined = interval_join_stream(
        read_event_stream(spark, sf_smoke), read_event_stream(spark, sf_smoke)
    )
    got = run_to_memory(joined, "stream_interval_join")
    stream_pairs = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["micros_to_purchase"])
        for r in got.collect()
    }
    batch_pairs = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["micros_to_purchase"])
        for r in QUERIES["interval_join_click_purchase"].fn(spark, sf_smoke).collect()
    }
    assert stream_pairs == batch_pairs
    assert stream_pairs  # non-vacuous


def test_checkpoint_recovery_exactly_once(spark, sf_smoke, tmp_path):
    """Kill a checkpointed stream mid-feed, add new input, restart with the
    SAME checkpoint: the sink must contain every event exactly once — the
    file source's offsets live in the checkpoint, so batch 0's files are
    not reprocessed and the new file is."""
    from similarity_analysis_big_data_spark.sources.readers import load_table
    from similarity_analysis_big_data_spark.streaming.events import (
        EVENTS_STREAM_SCHEMA,
    )

    events = load_table(spark, sf_smoke, "events")
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)

    def land_file(df, name):
        # the file stream source lists plain files (no recursion): write the
        # half as a directory, then surface its single part file as in/<name>
        import glob
        import os
        import shutil

        staged = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(staged)
        os.makedirs(in_dir, exist_ok=True)
        shutil.copy(glob.glob(f"{staged}/part-*.parquet")[0], f"{in_dir}/{name}")

    land_file(half_a, "a.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .format("parquet")
            .load(in_dir)
            .select("event_id", "user_id", "event_type")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # processes half A, then terminates (simulated shutdown)
    land_file(half_b, "b.parquet")
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(out_dir)
    assert got.count() == events.count()  # nothing lost
    assert got.select("event_id").distinct().count() == events.count()  # no dupes


def test_hourly_dedup_watermark_evicts_state(spark, tmp_path):
    """Pins the watermark-ON-the-bucket contract of dedup_hourly_key_stream
    (stream twin #6): once the watermark passes an hour bucket, (1) that
    bucket's state entries are dropped, (2) a late duplicate for the
    dropped key is discarded as late data — it neither re-emits nor
    resurrects the state entry."""
    import glob
    import os
    import shutil

    from similarity_analysis_big_data_spark.streaming.dedup import (
        dedup_hourly_key_stream,
    )

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def ts(hhmm: str):
        return f"2024-01-01 {hhmm}:00"

    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def land_file(rows, name):
        staged = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staged)
        os.makedirs(in_dir, exist_ok=True)
        shutil.copy(glob.glob(f"{staged}/part-*.parquet")[0], f"{in_dir}/{name}")

    import datetime as dt

    def t(hhmm):
        h, m = map(int, hhmm.split(":"))
        return dt.datetime(2024, 1, 1, h, m)

    def run_once():
        stream = dedup_hourly_key_stream(
            spark.readStream.schema(schema).format("parquet").load(in_dir)
        )
        q = (
            stream.withColumn("hour_str", F.date_format("hour_bucket", "yyyy-MM-dd HH"))
            .drop("hour_bucket")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress

    # batch A: key (1, click) duplicated inside hour 00, plus an 06:00
    # event that advances the watermark (2h delay) far past hour 00.
    land_file(
        [(1, t("00:10"), 1, "click"), (2, t("00:20"), 1, "click"), (3, t("06:00"), 2, "view")],
        "a.parquet",
    )
    run_once()

    # batch B: a LATE duplicate of the dropped hour-00 key, plus a fresh key.
    land_file([(4, t("00:30"), 1, "click"), (5, t("06:30"), 3, "buy")], "b.parquet")
    progress = run_once()

    got = spark.read.parquet(out_dir)
    keys = {(r["user_id"], r["event_type"], r["hour_str"]) for r in got.collect()}
    assert got.count() == 3  # the late duplicate re-emitted nothing
    assert keys == {
        (1, "click", "2024-01-01 00"),
        (2, "view", "2024-01-01 06"),
        (3, "buy", "2024-01-01 06"),
    }
    # state holds only the keys inside the watermark horizon: hour 00's
    # entry was evicted, and the late duplicate did not resurrect it.
    state = progress["stateOperators"][0]
    assert state["numRowsTotal"] == 2
    assert state["numRowsDroppedByWatermark"] >= 1  # the late row was discarded
