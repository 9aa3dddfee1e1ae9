"""Input connectors (SURVEY.md §2.1 S1-S2, S7).

Differences from the reference, by design:

- S1 JSON scan: the reference infers schema (``lab2.py:64``); we always pass
  an explicit ``StructType`` plus PERMISSIVE mode with a ``_corrupt_record``
  column, so a malformed line at 100 TB quarantines instead of failing the
  job, and column pruning reaches the scan.
- S2 stopwords: the reference reads the file driver-side with ``open()``
  (``lab2.py:52-53``); we read through Spark so the path can be any Hadoop
  FS (s3a/hdfs/file) and collect only the tiny result.
- S7 RDD<->DF conversion is gone: everything stays one DataFrame plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import PAPERS, TABLE_SCHEMAS

TABLE_NAMES = tuple(TABLE_SCHEMAS)

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _read_parquet_portable(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that survives ``TIMESTAMP(NANOS)`` columns on
    ANY session — not just ones built by :mod:`..session`.

    Spark 4.1+ reads parquet ``TIMESTAMP(NANOS, isAdjustedToUTC=false)``
    natively as ``TIMESTAMP_NTZ`` (µs-truncated — the same truncation the
    DuckDB oracle applies), so the plain read succeeds on any session.
    Older Sparks reject it outright (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` makes the column arrive as
    epoch-nanos longs — so on that error, retry once with the conf set at
    runtime (a per-query SQL conf, safe to flip mid-session). Any other
    error, from either read, propagates: the engine needs Spark >= 3.5
    (``F.count_if``), where the conf always exists, so a failing retry is
    a real error, not a missing feature.
    """
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # AnalysisException: PARQUET_TYPE_ILLEGAL
        msg = str(exc)
        if "PARQUET_TYPE_ILLEGAL" not in msg and "TIMESTAMP(NANOS" not in msg:
            raise
    spark.conf.set(_NANOS_CONF, "true")
    return spark.read.parquet(path)


def local_relation(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A driver-built relation (carry tables, remaps, codebooks, literal
    dimensions) handed to the JVM as Arrow — no Python worker anywhere.

    ``rows`` is an iterable of tuples in ``schema`` field order;
    ``schema`` is a ``StructType`` or a DDL string in either
    ``a int, b double`` or ``a: int, b: double`` form.
    Every driver-side relation in the engine goes through here
    (tests/test_operators.py guards that no other ``createDataFrame`` call
    appears).

    Why not ``spark.createDataFrame(list, schema)``: classic PySpark
    pickles the rows and re-serializes them through ``map(lambda x: x)``,
    a ``PythonRDD`` — so the first action forks the Python worker daemon
    and runs one Python task per partition just to unpickle a few tuples.
    A ``pyarrow.Table`` with an explicit ``StructType`` instead goes
    straight to ``PythonSQLUtils.toDataFrame`` (Arrow IPC, JVM-side
    decode) and has no silent fallback to the pickled path. The schema is
    the one the caller declared, so results are unchanged.

    Measured with perfbench/run.py on a 4-vCPU VM (steal <= 0.3 %), ten
    fresh-process pairs per workload, seeds 11-20, the side that runs
    first alternating. near_dup (800 docs; its components remap is the
    only driver-built relation on the path): medians 465.1 -> 157.1 MB
    peak RSS (the Python driver alone; retrieval, which builds no such
    relation, reads 155.8 MB) and 1.86 -> 1.40 CPU-s per warm pass, both
    better in 10 of 10 pairs; warm wall 0.68 -> 0.57 s. retrieval: within
    4 % on every metric. With the pickled path the JVM kept a Python
    worker daemon resident and ran Python tasks every near_dup pass; with
    this one no Python worker process starts.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = spark._parse_ddl(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    # strict zips: a row of the wrong arity raises instead of being
    # silently truncated (createDataFrame's own length check)
    columns = list(zip(*rows, strict=True)) or [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table from ``{sf_dir}/{name}.parquet``.

    Parquet scans get predicate pushdown + column pruning from Catalyst; we
    do not pass a schema here because parquet files are self-describing and
    a user-supplied schema would disable vectorized-reader fast paths on
    mismatch. Schema expectations are validated in tests instead.

    The resulting DataFrame is memoized per (session, dir, table):
    ``spark.read.parquet`` eagerly reads parquet footers for schema
    resolution (~80 ms of driver latency per call), and a query that
    touches the same table three times would otherwise pay that three
    times per invocation. Sound because DataFrames are immutable plans and
    the fixture dirs are read-only; the memo lives on the session object,
    so its lifetime matches the session's.
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    cache: dict = spark.__dict__.setdefault("_sabds_table_memo", {})
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = _read_parquet_portable(spark, f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): Spark 4.1+ reads it natively as
    # TIMESTAMP_NTZ (no conversion needed). Under the legacy nanosAsLong
    # fallback it arrives as epoch-nanos LongType instead — convert with
    # integer division (a double round-trip would lose precision above 2^53
    # ns) to microseconds, the same truncation DuckDB applies, then add the
    # micros onto an NTZ epoch LITERAL (timestampadd on NTZ is pure
    # wall-clock arithmetic, like functions/timeutil.py). This fallback
    # exists precisely for externally-built pre-4.1 sessions whose
    # session.timeZone may not be UTC, so a TIMESTAMP→NTZ cast (which
    # localizes through the session zone) must not appear here.
    for field in df.schema.fields:
        expected = TABLE_SCHEMAS[name][field.name].dataType if field.name in TABLE_SCHEMAS[name].fieldNames() else None
        if (
            expected is not None
            and isinstance(expected, (T.TimestampType, T.TimestampNTZType))
            and isinstance(field.dataType, T.LongType)
        ):
            df = df.withColumn(
                field.name,
                F.expr(
                    f"timestampadd(MICROSECOND, {field.name} div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict[str, DataFrame]:
    """Load several fixture tables as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register fixture tables as temp views so ``spark.sql`` can use them."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_papers_json(spark: SparkSession, path: str) -> DataFrame:
    """Scan a line-delimited papers corpus (reference input, ``lab2.py:64``).

    Keeps the reference's ``allowBackslashEscapingAnyCharacter`` tolerance
    but adds the explicit schema + PERMISSIVE corrupt-record capture that
    the reference's inferred scan lacks.
    """
    return (
        spark.read.schema(PAPERS)
        .option("allowBackslashEscapingAnyCharacter", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_stopwords(spark: SparkSession, path: str) -> list[str]:
    """Read a newline-delimited stopword list to a small driver-side list.

    Mirrors ``lab2.py:52-53`` including its quirk: a trailing newline yields
    an empty-string stopword, which ``StopWordsRemover`` tolerates. The list
    is tiny by contract — it travels to executors as a closure literal
    (folded into the plan), never as a shuffled relation.
    """
    rows = spark.read.text(path).collect()
    return [r.value for r in rows]
