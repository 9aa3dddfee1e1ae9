"""Smoke tests for the driver contract in __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns  # stable, named schema


def test_queries_and_oracles_align(spark):
    q = e.queries()
    o = e.oracle_sql()
    assert q, "queries() must not be empty"
    # every oracle key must have a query
    assert set(o) <= set(q)


def test_priority_names_registered_queries_once():
    """``registry.PRIORITY`` is hand-edited, and ``_ordered()`` drops an
    unknown name without a word, so a typo would shrink the sampled
    window silently: every name must be registered, none twice."""
    from similarity_analysis_big_data_spark.plans import registry

    names = registry.query_map()
    assert [n for n in registry.PRIORITY if n not in names] == []
    assert len(set(registry.PRIORITY)) == len(registry.PRIORITY)
    assert list(names)[: len(registry.PRIORITY)] == list(registry.PRIORITY)


def test_every_query_takes_exactly_spark_and_sf_dir():
    """Every registered query is a ``registry.QueryFn``: it takes exactly
    ``(spark, sf_dir)``, no defaults, so every caller of ``queries()``
    runs it the same way and no query keeps a second mode behind an
    option."""
    import inspect

    from similarity_analysis_big_data_spark.plans import registry

    registry._load_all()
    wrong = {}
    for name, spec in registry.QUERIES.items():
        params = inspect.signature(spec.fn).parameters.values()
        if [(p.name, p.kind, p.default) for p in params] != [
            (n, inspect.Parameter.POSITIONAL_OR_KEYWORD, inspect.Parameter.empty)
            for n in ("spark", "sf_dir")
        ]:
            wrong[name] = str(inspect.signature(spec.fn))
    assert wrong == {}


def test_all_queries_execute_at_smoke_scale(spark, sf_smoke):
    for name, fn in e.queries().items():
        df = fn(spark, sf_smoke)
        assert df.count() >= 0, name


def test_cli_twin_reproduces_reference_outputs(spark, tmp_path_factory):
    """The reference's six-argv workflow (lab2.py:49-60) through
    python -m similarity_analysis_big_data_spark: every sink materializes."""
    import json
    import os

    from similarity_analysis_big_data_spark.__main__ import run_pipeline

    base = tmp_path_factory.mktemp("cli")
    arxiv = base / "papers.json"
    rows = [
        {"id": "p1", "title": "graph methods for networks",
         "abstract": "we study graph methods for large networks", "categories": "cs.DS"},
        {"id": "p2", "title": "neural translation models",
         "abstract": "neural models translate text between languages", "categories": "cs.CL"},
        {"id": "p3", "title": "quantum error correction",
         "abstract": "codes that correct quantum errors", "categories": "quant-ph"},
    ]
    arxiv.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    stop = base / "stopwords.txt"
    stop.write_text("the\nwe\nfor\nthat\n")
    outs = {k: str(base / k) for k in ("accuracy", "results", "samples", "heatmap.png")}

    run_pipeline(spark, str(arxiv), str(stop), outs["accuracy"],
                 outs["results"], outs["samples"], outs["heatmap.png"])

    acc = spark.read.text(outs["accuracy"]).collect()
    assert len(acc) == 1 and acc[0].value.startswith("('accuracy', ")
    res = spark.read.parquet(outs["results"])
    assert set(res.columns) == {"title_id", "abstract_id", "cosine"}
    assert res.count() == 3  # one row per title (cartesian row-count parity)
    csv_files = [f for f in os.listdir(outs["samples"]) if f.endswith(".csv")]
    assert csv_files, "samples csv missing"
    try:
        import matplotlib  # noqa: F401

        assert os.path.exists(outs["heatmap.png"])
    except ImportError:
        assert not os.path.exists(outs["heatmap.png"])  # gated skip, no crash
