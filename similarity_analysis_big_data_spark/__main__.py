"""CLI twin of the reference's entry point.

The reference runs as (``lab2.py:49-60``)::

    spark-submit lab2.py <arxiv.json> <stopwords.txt> \
        <accuracy_out> <results_out> <samples_csv_out> <heatmap.png>

This module reproduces that six-argument workflow over the library plans::

    python -m similarity_analysis_big_data_spark \
        arxiv.json stopwords.txt accuracy_out results_out samples_out heatmap.png

Outputs, matching the reference sink-for-sink:

1. ``accuracy_out``  — single text file with the Task-1 accuracy tuple
   (``lab2.py:306-307``)
2. ``results_out``   — parquet of (title_id, abstract_id, cosine)
   (``lab2.py:310-313``)
3. ``samples_out``   — CSV of 5 mismatched pairings with their texts
   (``lab2.py:315-332``); deterministic (ordered by title_id) where the
   reference's ``take(5)`` is partition-order-dependent
4. ``heatmap.png``   — Task-2 category-similarity heatmap
   (``lab2.py:335-342``); skipped with a notice when matplotlib is absent

Differences by design: one SparkSession from the config-driven factory, all
15 of the reference's per-sample point queries collapsed into two joins,
and single-file output only where the result is provably tiny.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.similarity import pivot_matrix, retrieval_accuracy
from .plans.heatmap import render_heatmap
from .plans.pipeline import (
    preprocess_papers,
    task1_best_abstract,
    task2_category_matrix,
)
from .session import get_local_session, get_session
from .sources.readers import read_papers_json, read_stopwords
from .sources.writers import write_csv, write_parquet, write_text


def mismatch_sample_report(matches: DataFrame, papers: DataFrame) -> DataFrame:
    """lab2.py:315-332 as ONE plan: the reference drives a Python loop of
    3 ``.first()`` point queries per sample (15 full scans); here the 5
    mismatches broadcast-join the corpus twice."""
    mism = (
        matches.filter(F.col("title_id") != F.col("abstract_id"))
        .orderBy("title_id")
        .limit(5)
    )
    t = papers.select(
        F.col("id").alias("title_id"),
        F.col("title"),
        F.col("abstract").alias("abstract_correct"),
    )
    w = papers.select(
        F.col("id").alias("abstract_id"),
        F.col("abstract").alias("abstract_wrong"),
    )
    return (
        mism.join(F.broadcast(t), "title_id")
        .join(F.broadcast(w), "abstract_id")
        .select(
            "title_id",
            "title",
            F.col("abstract_id").alias("abstract_wrong_id"),
            "abstract_wrong",
            "abstract_correct",
            F.col("cosine").alias("similarity"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    arxiv_path: str,
    stopwords_path: str,
    accuracy_out: str,
    results_out: str,
    samples_out: str,
    heatmap_out: str,
) -> None:
    """Execute the reference's full workflow against the given paths."""
    papers = read_papers_json(spark, arxiv_path)
    if "_corrupt_record" in papers.columns:
        papers = papers.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    # scanned by Task 1 prep, Task 2 prep, and samples: materialized by the
    # first action and released with the plan, never left in the session cache
    papers = papers.localCheckpoint(eager=False)
    stopwords = read_stopwords(spark, stopwords_path)

    prep = preprocess_papers(papers, stopwords)
    n_docs = prep.count()

    # ---- Task 1: per-title best abstract -> accuracy + results + samples
    matches = task1_best_abstract(prep, n_docs=n_docs)
    accuracy = retrieval_accuracy(matches, "title_id", "abstract_id", n_queries=n_docs)
    accuracy_line = accuracy.select(
        F.concat(
            F.lit("('accuracy', "), F.col("accuracy").cast("string"), F.lit(")")
        ).alias("value")
    )
    write_text(accuracy_line, accuracy_out)  # single tuple, mirrors saveAsTextFile
    write_parquet(matches, results_out)  # lab2.py:313 repartition(1)
    write_csv(mismatch_sample_report(matches, papers), samples_out)

    # ---- Task 2: category similarity matrix -> heatmap PNG
    dense = task2_category_matrix(prep)
    pivoted = pivot_matrix(dense, "category_l", "category_r")
    try:
        render_heatmap(pivoted, heatmap_out)
    except NotImplementedError as exc:
        print(f"heatmap skipped: {exc}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 6:
        print(
            "usage: python -m similarity_analysis_big_data_spark "
            "<arxiv.json> <stopwords.txt> <accuracy_out> <results_out> "
            "<samples_csv_out> <heatmap.png>",
            file=sys.stderr,
        )
        return 2
    app = "similarity-analysis-cli"
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        spark = get_session(app, master=master)
    else:
        try:
            # master=None inherits spark-submit's cluster master (or joins
            # an already-active session)
            spark = get_session(app)
        except Exception:
            spark = get_local_session(app)  # plain `python -m` on one box
    run_pipeline(spark, *args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
