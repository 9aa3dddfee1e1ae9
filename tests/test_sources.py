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
    write_json,
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

    write_csv(df, f"{out}/csv", single_file=True)
    back = spark.read.option("header", True).csv(f"{out}/csv")
    assert back.count() == 5 and set(back.columns) == {"r_regionkey", "r_name"}

    write_json(df, f"{out}/json")
    assert spark.read.json(f"{out}/json").count() == 5

    write_text(df.select(F.concat_ws("|", "r_regionkey", "r_name").alias("value")), f"{out}/text")
    txt = spark.read.text(f"{out}/text")
    assert txt.count() == 5
    # single_file default for text: exactly one part file (S3 contract)
    parts = [f for f in os.listdir(f"{out}/text") if f.startswith("part-")]
    assert len(parts) == 1


def test_partitioned_parquet_sink(spark, sf_smoke, tmp_path_factory):
    out = tmp_path_factory.mktemp("psink")
    docs = load_table(spark, sf_smoke, "documents")
    write_parquet(docs, f"{out}/by_lang", partition_by=("lang",))
    # partition pruning surface: directory per lang
    langs = {d for d in os.listdir(f"{out}/by_lang") if d.startswith("lang=")}
    assert langs == {"lang=de", "lang=en", "lang=es", "lang=fr", "lang=zh"}
    back = spark.read.parquet(f"{out}/by_lang").filter(F.col("lang") == "en")
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_bucketed_tables_join_without_exchange(spark, sf_smoke, tmp_path_factory):
    """Co-located join ([ext]): both sides bucketed+sorted on the join key
    merge-join with ZERO Exchange operators — the write-once shuffle that
    every subsequent key-join amortizes at scale."""
    from similarity_analysis_big_data_spark.sources.writers import write_bucketed

    out = tmp_path_factory.mktemp("buckets")
    lineitem = load_table(spark, sf_smoke, "lineitem")
    orders = load_table(spark, sf_smoke, "orders")
    write_bucketed(lineitem, "li_b", 8, "l_orderkey", path=f"{out}/li")
    write_bucketed(orders, "ord_b", 8, "o_orderkey", path=f"{out}/ord")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so the test proves bucket co-location, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


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


def test_orc_roundtrip_and_csv_scan(spark, sf_smoke, tmp_path_factory):
    """[ext] ORC sink/scan roundtrip + schema'd PERMISSIVE CSV scan with
    corrupt-record quarantine (same contract as the JSON scan)."""
    from pyspark.sql import types as T

    from similarity_analysis_big_data_spark.sources.readers import read_csv, read_orc
    from similarity_analysis_big_data_spark.sources.writers import write_orc

    base = tmp_path_factory.mktemp("formats")
    nation = load_table(spark, sf_smoke, "nation")
    write_orc(nation, str(base / "nation_orc"), partition_by=("n_regionkey",))
    back = read_orc(spark, str(base / "nation_orc"))
    assert back.count() == nation.count()
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in nation.collect()}

    csv_path = base / "rows.csv"
    csv_path.write_text("id,score\n1,0.5\n2,not_a_number\n3,1.25\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("score", T.DoubleType())]
    )
    df = read_csv(spark, str(csv_path), schema)
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


def test_zordered_write_clusters_both_dimensions(spark, sf_smoke, tmp_path_factory):
    """Z-order layout ([ext]): after write_zordered on (user_id, value-bucket),
    each output file covers a small rectangle of the 2-D key space, so
    min/max stats prune scans filtering on EITHER column. Assert per-file
    spans are a fraction of the global span on both axes — a plain
    (unclustered) write gives every file the full span."""
    import glob as _glob

    from similarity_analysis_big_data_spark.plans.layout import write_zordered

    ev = (
        load_table(spark, sf_smoke, "events")
        .select(
            "event_id",
            F.col("user_id").cast("integer").alias("x"),
            (F.floor(F.col("value") * 10).cast("integer") % 256).alias("y"),
        )
        .filter((F.col("x") < 256) & (F.col("x") >= 0))
    )
    out = str(tmp_path_factory.mktemp("zorder") / "ev")
    write_zordered(ev, "x", "y", out, n_files=8)
    import pyarrow.parquet as pq

    spans_x, spans_y = [], []
    for f in _glob.glob(f"{out}/part-*.parquet"):
        t = pq.read_table(f, columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans_x.append(max(xs) - min(xs))
        spans_y.append(max(ys) - min(ys))
    assert len(spans_x) >= 4  # the range partitioner actually split the curve
    spans_x.sort(), spans_y.sort()
    # median per-file span must be well under the global span on both axes
    assert spans_x[len(spans_x) // 2] <= 128, spans_x
    assert spans_y[len(spans_y) // 2] <= 128, spans_y
    # and the data survives intact
    assert spark.read.parquet(out).count() == ev.count()


def test_xml_roundtrip_with_explicit_schema(spark, sf_smoke, tmp_path_factory):
    """[ext] XML sink/scan roundtrip (Spark 4 built-in StAX source):
    explicit schema preserves types; values survive bit-for-bit."""
    from pyspark.sql import types as T

    from similarity_analysis_big_data_spark.sources.readers import read_xml
    from similarity_analysis_big_data_spark.sources.writers import write_xml

    base = tmp_path_factory.mktemp("xml")
    nation = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_xml(nation, str(base / "nation_xml"), row_tag="nation")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = read_xml(spark, str(base / "nation_xml"), schema, row_tag="nation")
    assert back.count() == nation.count()
    orig = {(r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in nation.collect()}
    got = {(r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in back.collect()}
    assert got == orig
    assert all(r["_corrupt_record"] is None for r in back.collect())


def test_compact_parquet_dir_preserves_rows_and_reduces_files(spark, tmp_path):
    """Compaction rewrites a many-tiny-files directory to ~target-sized
    files with IDENTICAL rows; an already-compact directory is a no-op."""
    import os

    from similarity_analysis_big_data_spark.sources.maintenance import (
        compact_parquet_dir,
        plan_compaction,
    )

    path = str(tmp_path / "frag")
    df = spark.range(10_000).selectExpr(
        "id", "md5(cast(id as string)) as digest", "id * 1.5 as score"
    )
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = plan_compaction(path)
    assert before["n_files"] == 64

    want = {tuple(r) for r in df.collect()}
    result = compact_parquet_dir(spark, path, target_bytes=1 << 30)
    assert result["compacted"] is True
    assert result["n_files"] == 1  # everything fits one target-sized file
    got = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert got == want

    # idempotent: second run is a no-op
    again = compact_parquet_dir(spark, path, target_bytes=1 << 30)
    assert again["compacted"] is False


def test_compact_parquet_dir_rejects_hive_partitioned_layout(spark, tmp_path):
    """A flat rewrite of a hive-partitioned directory would demote the
    partition dirs to inferred data columns — compaction must refuse it
    outright, leaving the layout untouched (ADVICE r5)."""
    import pytest

    from similarity_analysis_big_data_spark.sources.maintenance import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "parts")
    df = spark.range(1_000).selectExpr("id", "id % 3 as part")
    df.repartition(16).write.partitionBy("part").parquet(path)

    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet_dir(spark, path, target_bytes=1 << 30)
    # layout untouched: partition dirs still present, rows still read back
    back = spark.read.parquet(path)
    assert back.count() == 1_000
    assert "part" in back.columns


def test_compact_parquet_dir_aborts_on_rowcount_mismatch(spark, tmp_path):
    """The destructive swap only happens AFTER the rewrite's row count is
    re-verified; a mismatch (simulating a partial write or a concurrent
    append racing the rewrite) aborts with the original directory intact
    and the temp rewrite cleaned up (VERDICT r6 item 7)."""
    import os

    import pytest

    from similarity_analysis_big_data_spark.sources.maintenance import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "racy")
    spark.range(5_000).selectExpr(
        "id", "md5(cast(id as string)) as digest"
    ).repartition(16).write.parquet(path)

    class _ReaderProxy:
        """spark.read twin that drops a row when re-reading the rewrite
        temp dir — the verification must catch the discrepancy."""

        def parquet(self, p):
            df = spark.read.parquet(p)
            return df.limit(df.count() - 1) if "._compact-" in p else df

    class _SparkProxy:
        read = _ReaderProxy()

        def __getattr__(self, name):
            return getattr(spark, name)

    with pytest.raises(RuntimeError, match="row count"):
        compact_parquet_dir(_SparkProxy(), path, target_bytes=1 << 30)
    # original intact, temp rewrite gone
    assert spark.read.parquet(path).count() == 5_000
    leftovers = [d for d in os.listdir(tmp_path) if "._compact-" in d]
    assert leftovers == []
