"""Connector tests: papers JSON scan (S1), stopwords (S2), writers (S3-S5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.sources.readers import (
    load_table,
    read_papers_json,
    read_stopwords,
)
from similarity_analysis_big_data_spark.sources.writers import (
    write_csv,
    write_parquet,
    write_text,
)


@pytest.fixture(scope="module")
def papers_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("corpus") / "papers.json"
    rows = [
        {"id": "p1", "title": "Graph Methods", "abstract": "We study graphs", "categories": "cs.DS"},
        # backslash escapes the reference tolerates (lab2.py:64)
        {"id": "p2", "title": "Latex \\alpha titles", "abstract": "math \\beta", "categories": "math.CO"},
        {"id": "p3", "title": "Unicode naïve", "abstract": "κ-means", "categories": "stat.ML "},
    ]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        # malformed line -> must quarantine in _corrupt_record, not fail the scan
        f.write('{"id": "broken", "title": unquoted}\n')
    return str(path)


def test_papers_json_scan_with_corrupt_record(spark, papers_path):
    df = read_papers_json(spark, papers_path).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3
    assert bad.count() == 1  # quarantined, scan survives (100 TB posture)
    rows = {r["id"]: r for r in good.collect()}
    assert rows["p2"].title == "Latex \\alpha titles"
    assert rows["p3"].abstract == "κ-means"
    # explicit schema: no inference pass, stable columns
    assert df.columns == ["id", "title", "abstract", "categories", "_corrupt_record"]


def test_read_stopwords_trailing_newline(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("stop") / "stopwords.txt"
    p.write_text("the\na\nof\n")
    words = read_stopwords(spark, str(p))
    assert "the" in words and "of" in words  # trailing '' tolerated like lab2.py:52-53


def test_writers_roundtrip(spark, sf_smoke, tmp_path_factory):
    out = tmp_path_factory.mktemp("sinks")
    df = load_table(spark, sf_smoke, "region")

    write_parquet(df, f"{out}/parquet")
    assert spark.read.parquet(f"{out}/parquet").count() == 5

    write_csv(df, f"{out}/csv")
    back = spark.read.option("header", True).csv(f"{out}/csv")
    assert back.count() == 5 and set(back.columns) == {"r_regionkey", "r_name"}

    write_text(df.select(F.concat_ws("|", "r_regionkey", "r_name").alias("value")), f"{out}/text")
    txt = spark.read.text(f"{out}/text")
    assert txt.count() == 5
    # every sink writes exactly one part file (S3 contract)
    parts = [f for f in os.listdir(f"{out}/text") if f.startswith("part-")]
    assert len(parts) == 1


def test_load_table_events_portable_without_session_conf(spark, sf_smoke, tmp_path):
    """The driver's harness builds its own SparkSession WITHOUT our factory's
    conf; load_table must read the TIMESTAMP(NANOS) events fixture the
    same way whether ``spark.sql.legacy.parquet.nanosAsLong`` is unset or
    set (5 r1 correctness failures traced here), and must rewrite a
    ``ts`` that arrives as epoch-nanos longs — what the conf yields on
    pre-4.1 Sparks — to the same µs-truncated TIMESTAMP_NTZ values. The
    session's prior conf value is restored, so later tests see the conf
    as the session started."""
    import duckdb

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf, None)
    memo = spark.__dict__.setdefault("_sabds_table_memo", {})
    key = (sf_smoke, "events")
    reads = {}
    try:
        for value in (None, "true"):
            if value is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, value)
            memo.pop(key, None)
            df = load_table(spark, sf_smoke, "events")
            assert dict(df.dtypes)["ts"] == "timestamp_ntz", value
            reads[value] = sorted(df.collect(), key=repr)
    finally:
        memo.pop(key, None)
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)
    assert reads[None] and reads[None] == reads["true"]

    # epoch nanos with a sub-µs remainder: the rewrite truncates it away
    duckdb.execute(
        f"COPY (SELECT * REPLACE (epoch_ns(ts) + 999 AS ts) "
        f"FROM '{sf_smoke}/events.parquet') "
        f"TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    assert dict(spark.read.parquet(f"{tmp_path}/events.parquet").dtypes)["ts"] == "bigint"
    longs = load_table(spark, str(tmp_path), "events")
    assert dict(longs.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(longs.collect(), key=repr) == reads[None]
