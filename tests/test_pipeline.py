"""Reference-parity golden tests for the Task 1/Task 2 pipelines.

The expected values come from an independent pure-Python model of the
reference's semantics (sklearn-smooth TF-IDF, L2 norm, cartesian cosine,
arg-max) written here from the survey's formulas — NOT from reference code.
Covers the FIXTURES.md §C edge cases: df=0 title words, zero-overlap
titles, cosine ties, stopword-only abstracts, atomic multi-word categories.
"""

from __future__ import annotations

import math
import re

import pytest

from similarity_analysis_big_data_spark.operators.similarity import retrieval_accuracy
from similarity_analysis_big_data_spark.plans import pipeline
from similarity_analysis_big_data_spark.plans.pipeline import (
    preprocess_papers,
    task1_best_abstract,
    task2_category_matrix,
)

STOPWORDS = ["the", "a", "of", "and", ""]

PAPERS = [
    # id, title, abstract, categories
    ("p1", "Graph Sampling Methods", "We study graph sampling methods for the large graph", "cs.DS "),
    ("p2", "Neural Translation", "Neural machine translation of the text and speech", "cs.CL"),
    ("p3", "Quantum Error Codes", "Quantum error correcting codes and the stabilizer formalism", "quant-ph"),
    # title words absent from every abstract (df=0 path, J2)
    ("p4", "Zebrafish Genomics Atlas", "We present sequencing data of embryo development", "q-bio.GN"),
    # title sharing ZERO vocabulary with all abstracts (zero-overlap, §7)
    ("p5", "Xylophone Acoustics", "The of and a", "physics.class-ph"),  # abstract = stopwords only
    # duplicate vocabulary so retrieval is non-trivial + tie candidates
    ("p6", "Graph Sampling", "Graph sampling methods for sampling the graph", "cs.DS math.CO"),
]


def _py_tokenize(s: str) -> list[str]:
    s = s.lower()
    s = re.sub(r"(\d|\W)+", " ", s)
    toks = [t for t in re.split(r"[^\w]+", s) if t]
    return [t for t in toks if t not in STOPWORDS]


def _py_reference_model():
    """Independent model of lab2 semantics (formula from SURVEY §2.9 M3)."""
    n = len(PAPERS)
    abstracts = {pid: _py_tokenize(ab) for pid, _, ab, _ in PAPERS}
    titles = {pid: _py_tokenize(t) for pid, t, _, _ in PAPERS}

    def tf(tokens):
        out = {}
        for t in tokens:
            out[t] = out.get(t, 0) + 1
        return out

    df = {}
    for toks in abstracts.values():
        for term in set(toks):
            df[term] = df.get(term, 0) + 1

    def vec(tokens, left):
        weights = {}
        for term, cnt in tf(tokens).items():
            d = df.get(term, 0) if left else df[term]
            weights[term] = (1 + math.log10(cnt)) * (math.log10((n + 1) / (d + 1)) + 1)
        norm = math.sqrt(sum(w * w for w in weights.values()))
        return {k: w / norm for k, w in weights.items()} if norm else {}

    avecs = {pid: vec(toks, False) for pid, toks in abstracts.items() if toks}
    tvecs = {pid: vec(toks, True) for pid, toks in titles.items() if toks}

    best = {}
    for tid, tv in tvecs.items():
        scored = []
        for aid, av in avecs.items():
            dot = sum(w * av.get(k, 0.0) for k, w in tv.items())
            scored.append((round(dot, 9), aid))
        # engine determinism contract: max cosine, tiebreak ascending id
        top = sorted(scored, key=lambda x: (-x[0], x[1]))[0]
        best[tid] = top if top[0] > 0 else None
    return best


@pytest.fixture(scope="module")
def prep(spark):
    papers = spark.createDataFrame(
        PAPERS, ["id", "title", "abstract", "categories"]
    )
    return preprocess_papers(papers, STOPWORDS).cache()


def test_preprocess_semantics(prep):
    rows = {r["id"]: r for r in prep.collect()}
    # stopwords removed, lowercased, tokenized
    assert rows["p1"].title_tokens == ["graph", "sampling", "methods"]
    # stopword-only abstract -> empty token array (engine drops empties)
    assert rows["p5"].abstract_tokens == []
    # categories atomic: lowered + rtrimmed, NEVER split (lab2.py:89-91)
    assert rows["p1"].categories == "cs.ds"
    assert rows["p6"].categories == "cs.ds math.co"


def test_count_empty_tokens_equals_python_split(spark, monkeypatch):
    """F4's compat mode (lab2.py:159): ``tokenize(..., count_empty_tokens=True)``
    is Python's ``re.split(r"[^\\w]+", s)``, leading and trailing empty
    strings included, and ``preprocess_papers`` threads it through to the
    token arrays under ``COUNT_EMPTY_TOKENS``."""
    from similarity_analysis_big_data_spark.functions.text import tokenize

    texts = [" graph, sampling. ", "naïve-bayes 2nd", "", "...", "plain"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(texts)], "i int, s string")
    got = {r["i"]: r["t"] for r in df.select("i", tokenize("s", count_empty_tokens=True).alias("t")).collect()}
    assert got == {i: re.split(r"[^\w]+", s) for i, s in enumerate(texts)}

    papers = spark.createDataFrame(
        [("q1", " Graph: the Sampling! ", "plain text", "cs"), *PAPERS], ["id", "title", "abstract", "categories"]
    )
    monkeypatch.setattr(pipeline, "COUNT_EMPTY_TOKENS", True)
    titles = {r["id"]: r["title_tokens"] for r in preprocess_papers(papers, ["the"]).collect()}
    assert titles["q1"] == ["", "graph", "sampling", ""]
    assert titles == {
        pid: [t for t in re.split(r"[^\w]+", re.sub(r"(\d|\W)+", " ", title.lower())) if t != "the"]
        for pid, title, _, _ in [("q1", " Graph: the Sampling! ", "", ""), *PAPERS]
    }


def test_lemmatized_prep_gives_rules_lemmas(spark, monkeypatch):
    """M5 (lab2.py:121-138): ``LEMMATIZE_TOKENS`` maps every token
    through the lemmatizer backend; without NLTK that is the rules
    backend. The stopword-only abstract lemmatizes to ``[]``, not
    ``[""]``."""
    import importlib.util

    from similarity_analysis_big_data_spark.functions.lemmatize import _rule_lemma

    if importlib.util.find_spec("nltk") is not None:
        pytest.skip("NLTK is installed, so the WordNet backend runs instead of the rules one")
    papers = spark.createDataFrame(PAPERS, ["id", "title", "abstract", "categories"])
    monkeypatch.setattr(pipeline, "LEMMATIZE_TOKENS", True)
    rows = {r["id"]: r for r in preprocess_papers(papers, STOPWORDS).collect()}
    for pid, title, abstract, _ in PAPERS:
        assert rows[pid].title_tokens == [_rule_lemma(t) for t in _py_tokenize(title)], pid
        assert rows[pid].abstract_tokens == [_rule_lemma(t) for t in _py_tokenize(abstract)], pid
    assert rows["p5"].abstract_tokens == []
    assert rows["p1"].title_tokens == ["graph", "sampl", "method"]


def test_task1_matches_reference_model(spark, prep):
    model = _py_reference_model()
    got = {
        r["title_id"]: (r["abstract_id"], r["cosine"])
        for r in task1_best_abstract(prep, len(PAPERS)).collect()
    }
    assert set(got) == {p[0] for p in PAPERS}  # every title appears (cartesian parity)
    for tid, expected in model.items():
        aid, cos = got[tid]
        if expected is None:
            continue
        exp_cos, exp_aid = expected
        assert aid == exp_aid, f"{tid}: got {aid}, expected {exp_aid}"
        assert cos == pytest.approx(exp_cos, abs=1e-9)


def test_task1_zero_overlap_title_emits_null_match(prep):
    got = {r["title_id"]: r for r in task1_best_abstract(prep, len(PAPERS)).collect()}
    # p5's title shares no vocabulary with any abstract -> (NULL, 0.0)
    assert got["p5"].abstract_id is None
    assert got["p5"].cosine == 0.0


def test_task1_accuracy_range(prep):
    # the CLI's Task 1 accuracy: one count, reused for the arg-max and the ratio
    n_docs = prep.count()
    matches = task1_best_abstract(prep, n_docs=n_docs)
    acc = retrieval_accuracy(matches, "title_id", "abstract_id", n_queries=n_docs).collect()[0]["accuracy"]
    assert 0.0 <= acc <= 1.0
    # p1/p6 overlap and p4/p5 are designed misses -> strictly below 1
    assert acc < 1.0


def test_task2_matrix_properties(prep):
    dense = task2_category_matrix(prep).collect()
    cats = {r["category_l"] for r in dense}
    # 5 non-empty categories (p5's abstract is empty after stop-wording)
    assert len(dense) == len(cats) ** 2
    diag = {r["category_l"]: r["cosine"] for r in dense if r["category_l"] == r["category_r"]}
    for cat, cos in diag.items():
        assert cos == pytest.approx(1.0, abs=1e-9), cat
    sym = {(r["category_l"], r["category_r"]): r["cosine"] for r in dense}
    for (a, b), v in sym.items():
        assert v == pytest.approx(sym[(b, a)], abs=1e-9)
        assert -1e-9 <= v <= 1 + 1e-9


def test_task1_strategies_agree_on_string_ids(spark, prep):
    """The CLI's Task 1 (sparse) and the Task 1 operator on the CLI's
    inputs under forced dense (the blocked matmul, its string ids typed
    from the input schema), forced sparse and auto — first call and
    memoized — give the same rows."""
    from similarity_analysis_big_data_spark.operators import similarity as ops
    from similarity_analysis_big_data_spark.plans.pipeline import _long_terms

    def rows(df):
        return {r["title_id"]: (r["abstract_id"], r["cosine"]) for r in df.collect()}

    def task1(strategy, memo_key=None):
        return ops.best_abstract_per_title(
            _long_terms(prep, "title_tokens", "title_id"),
            _long_terms(prep, "abstract_tokens", "abstract_id"),
            prep.select(prep["id"].alias("title_id")),
            len(PAPERS),
            strategy,
            memo_key,
        )

    want = rows(task1_best_abstract(prep, len(PAPERS)))
    dense = task1("dense")
    plan = dense._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" in plan  # the matmul ran, not the over-bound fallback
    assert want == rows(dense)
    assert want == rows(task1("sparse"))
    key = (spark.sparkContext.applicationId, "papers.json")
    try:
        assert want == rows(task1("auto", "papers.json"))
        assert ops._AUTO_STRATEGY_CACHE[key] == "dense"  # a narrow vocabulary
        assert want == rows(task1("auto", "papers.json"))
    finally:
        ops._AUTO_STRATEGY_CACHE.pop(key, None)
        spark.catalog.clearCache()
    assert len(want) == len(PAPERS) and want["p5"] == (None, 0.0)
