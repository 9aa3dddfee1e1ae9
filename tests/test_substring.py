"""Property tests for the exact-substring dedup operators against an
independent pure-Python reference model (brute-force gram buckets +
diagonal runs + interval union).

Small k / cap / min_span push hypothesis into the interesting regimes: a
two-letter alphabet makes grams collide constantly, so the bucket cap,
diagonal merging, repeated-substring self-overlaps, and duplicate-interval
unions all get exercised on corpora a human can still eyeball.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.operators import dedup
from similarity_analysis_big_data_spark.operators.dedup import (
    SUBSTRING_COVERAGE_SQL,
    SUBSTRING_REWRITE_SQL,
    substring_coverage,
    substring_dedup_rewrite,
    substring_span_pairs,
    substring_span_pairs_delta,
    substring_spans_sql,
)
from similarity_analysis_big_data_spark.plans.dedup import _SQL_TOKS

from .oracle import compare

K, CAP, MIN_SPAN = 3, 4, 4

docs_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=14),
    min_size=2,
    max_size=5,
)

_SPARK = {}


@pytest.fixture(scope="module", autouse=True)
def _capture_spark(spark):
    _SPARK["s"] = spark
    yield


def _set_grams(monkeypatch, k: int, cap: int, min_span: int) -> None:
    """The substring constants the operators and the DuckDB twin read."""
    monkeypatch.setattr(dedup, "SUBSTRING_K", k)
    monkeypatch.setattr(dedup, "SUBSTRING_CAP", cap)
    monkeypatch.setattr(dedup, "SUBSTRING_MIN_SPAN", min_span)


@pytest.fixture
def small_grams(monkeypatch):
    _set_grams(monkeypatch, K, CAP, MIN_SPAN)


def _toks_df(docs: list[list[str]]):
    spark = _SPARK["s"]
    return spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, tokens array<string>",
    )


def _spans(docs: list[list[str]]):
    return substring_span_pairs(_toks_df(docs))


def _ref_spans(docs: list[list[str]], k: int, cap: int, min_span: int):
    buckets = defaultdict(list)
    for d, toks in enumerate(docs):
        for i in range(len(toks) - k + 1):
            buckets[tuple(toks[i : i + k])].append((d, i))
    diag = defaultdict(set)
    for occ in buckets.values():
        if len(occ) > cap:
            continue
        for d1, p1 in occ:
            for d2, p2 in occ:
                if d1 < d2:
                    diag[(d1, d2, p1 - p2)].add(p1)
    spans = set()
    for (dl, dr, dg), ps in diag.items():
        ordered = sorted(ps)
        start = prev = ordered[0]
        for p in ordered[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            length = prev - start + k
            if length >= min_span:
                spans.add((dl, dr, start, start - dg, length))
            if p is not None:
                start = prev = p
    return spans


def _ref_coverage(docs: list[list[str]], spans, k: int):
    iv = defaultdict(set)
    for dl, dr, sl, sr, n in spans:
        iv[dl].add((sl, sl + n))
        iv[dr].add((sr, sr + n))
    out = {}
    for d, toks in enumerate(docs):
        if not toks:
            continue
        cov = 0
        cur_s = cur_e = None
        for s, e in sorted(iv.get(d, ())):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    cov += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            cov += cur_e - cur_s
        out[d] = (len(toks), cov)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_substring_spans_match_reference(small_grams, docs):
    got = {
        (r["id_l"], r["id_r"], r["start_l"], r["start_r"], r["span_tokens"])
        for r in _spans(docs).collect()
    }
    assert got == _ref_spans(docs, K, CAP, MIN_SPAN)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_substring_coverage_matches_reference(small_grams, docs):
    rows = substring_coverage(_toks_df(docs), _spans(docs)).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"]) for r in rows}
    ref = _ref_coverage(docs, _ref_spans(docs, K, CAP, MIN_SPAN), K)
    assert got == ref
    for r in rows:
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["dup_fraction"] <= 1.0


def _ref_rewrite(docs: list[list[str]], spans):
    rem = defaultdict(set)
    for _dl, dr, _sl, sr, n in spans:
        rem[dr].update(range(sr, sr + n))
    out = {}
    for d, toks in enumerate(docs):
        if not toks:
            continue
        kept = [t for i, t in enumerate(toks) if i not in rem.get(d, ())]
        out[d] = (len(toks), len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_substring_rewrite_matches_reference(small_grams, docs):
    rows = substring_dedup_rewrite(_toks_df(docs), _spans(docs)).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["kept_tokens"], r["text_dedup"]) for r in rows}
    assert got == _ref_rewrite(docs, _ref_spans(docs, K, CAP, MIN_SPAN))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_substring_delta_consistent_with_full(small_grams, monkeypatch, docs):
    """Uncapped, the delta operator's spans are exactly the full run's
    cross-partition spans reoriented delta->base (the cap differs by
    design: delta caps base-gram occurrences only, so compare with a cap
    no gram can hit)."""
    spark = _SPARK["s"]
    monkeypatch.setattr(dedup, "SUBSTRING_CAP", 10_000)
    delta_ids = {i for i in range(len(docs)) if i % 2 == 1}
    full = {
        (r["id_l"], r["id_r"], r["start_l"], r["start_r"], r["span_tokens"])
        for r in _spans(docs).collect()
    }
    expected = set()
    for dl, dr, sl, sr, n in full:
        if (dl in delta_ids) != (dr in delta_ids):
            if dl in delta_ids:
                expected.add((dl, dr, sl, sr, n))
            else:
                expected.add((dr, dl, sr, sl, n))
    base_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs) if i not in delta_ids],
        "doc_id long, tokens array<string>",
    )
    delta_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs) if i in delta_ids],
        "doc_id long, tokens array<string>",
    )
    got = {
        (r["id_delta"], r["id_base"], r["start_delta"], r["start_base"], r["span_tokens"])
        for r in substring_span_pairs_delta(base_df, delta_df).collect()
    }
    assert got == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs_strategy)
def test_sql_twin_matches_operators(small_grams, docs):
    """The DuckDB twin rendered at (K, CAP, MIN_SPAN) gives the operators'
    rows, row for row, for spans, coverage, rewrite and delta, reading the
    tokens back from a ``documents`` text column as the registered oracles
    do: a constant that either side hard-codes instead of reading the
    module's fails here."""
    delta = "doc_id % 2 = 1"
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
    )
    spans_sql = _SQL_TOKS + substring_spans_sql()
    toks, spans = _toks_df(docs), _spans(docs)
    cases = {
        "spans": (spans, spans_sql + "SELECT * FROM spans"),
        "coverage": (
            substring_coverage(toks, spans),
            spans_sql + SUBSTRING_COVERAGE_SQL + "SELECT * FROM coverage",
        ),
        "rewrite": (
            substring_dedup_rewrite(toks, spans),
            spans_sql + SUBSTRING_REWRITE_SQL + "SELECT * FROM rewrite",
        ),
        "delta": (
            substring_span_pairs_delta(toks.filter(~F.expr(delta)), toks.filter(F.expr(delta))),
            _SQL_TOKS
            + substring_spans_sql(delta=delta)
            + "SELECT * FROM delta_spans",
        ),
    }
    try:
        for name, (got, sql) in cases.items():
            ok, msg = compare(got, con.execute(sql).fetchdf())
            assert ok, f"{name}: {msg}"
    finally:
        con.close()


def test_substring_spans_known_construction(spark, monkeypatch):
    """Deterministic golden: two docs sharing one 5-token run embedded at
    different offsets, plus an unrelated doc — exactly one span, with the
    right offsets on both sides."""
    shared = ["x", "y", "z", "x", "y"]
    docs = [
        ["p", "q"] + shared + ["r"],          # span starts at 2
        shared + ["s", "t", "u"],             # span starts at 0
        ["m", "n", "o", "m", "n", "o", "m"],  # no overlap with the others
    ]
    _set_grams(monkeypatch, k=3, cap=8, min_span=5)
    got = substring_span_pairs(_toks_df(docs)).collect()
    assert [
        (r["id_l"], r["id_r"], r["start_l"], r["start_r"], r["span_tokens"])
        for r in got
    ] == [(0, 1, 2, 0, 5)]
