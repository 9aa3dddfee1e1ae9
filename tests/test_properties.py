"""Property-based tests (SURVEY §5): the sparse-join reformulation must be
extensionally equal to the reference's cartesian on arbitrary corpora, and
the vector invariants must hold for any non-negative weights.

hypothesis generates the corpora; examples are capped because every example
is a full Spark job.
"""

from __future__ import annotations

import math
import pathlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.functions.text import words_sql
from similarity_analysis_big_data_spark.functions.tfidf import l2_normalize
from similarity_analysis_big_data_spark.operators.dedup import SUBSTRING_CAP, SUBSTRING_K
from similarity_analysis_big_data_spark.operators.similarity import (
    COSINE_DECIMALS,
    all_pairs_cosine_exact,
    sparse_cosine_join,
)

# small vocabulary so overlap patterns vary: disjoint, partial, identical
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=5),
    min_size=2,
    max_size=5,
)

_SPARK = {}


@pytest.fixture(scope="module", autouse=True)
def _capture_spark(spark):
    # hand the session to hypothesis-driven tests (fixtures can't be
    # parameters of @given functions)
    _SPARK["s"] = spark
    yield


def _vectors(docs: list[list[str]]):
    spark = _SPARK["s"]
    rows = [
        (i, term, float(doc.count(term)))
        for i, doc in enumerate(docs)
        for term in set(doc)
    ]
    tf = spark.createDataFrame(rows, ["id", "term", "weight"])
    return l2_normalize(tf, ["id"])


def _python_cosines(docs: list[list[str]]):
    """Independent dense model: normalized TF vectors, full cartesian."""
    vecs = []
    for doc in docs:
        w = {t: float(doc.count(t)) for t in set(doc)}
        n = math.sqrt(sum(v * v for v in w.values()))
        vecs.append({k: v / n for k, v in w.items()})
    out = {}
    for i, a in enumerate(vecs):
        for j, b in enumerate(vecs):
            out[(i, j)] = sum(w * b.get(t, 0.0) for t, w in a.items())
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus_strategy)
def test_sparse_join_equals_cartesian(docs):
    vectors = _vectors(docs)
    expected = _python_cosines(docs)
    got = {
        (r["id_l"], r["id_r"]): r["cosine"]
        for r in all_pairs_cosine_exact(vectors, "id", COSINE_DECIMALS).collect()
    }
    assert set(got) == set(expected)  # dense output incl. zero-overlap pairs
    for pair, cos in expected.items():
        assert got[pair] == pytest.approx(cos, abs=1e-9), pair
        # invariants: range and self-similarity
        assert -1e-9 <= got[pair] <= 1 + 1e-9
    for i in range(len(docs)):
        assert got[(i, i)] == pytest.approx(1.0, abs=1e-9)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus_strategy)
def test_l2_normalization_unit_norm(docs):
    vectors = _vectors(docs)
    norms = (
        vectors.groupBy("id")
        .agg(F.sqrt(F.sum(F.pow("weight", 2))).alias("n"))
        .collect()
    )
    for r in norms:
        assert r["n"] == pytest.approx(1.0, abs=1e-9)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus_strategy)
def test_sparse_join_symmetry(docs):
    vectors = _vectors(docs)
    lhs = vectors.withColumnRenamed("id", "id_l")
    rhs = vectors.withColumnRenamed("id", "id_r")
    pairs = {
        (r["id_l"], r["id_r"]): r["cosine"]
        for r in sparse_cosine_join(lhs, rhs, "id_l", "id_r").collect()
    }
    for (i, j), v in pairs.items():
        assert pairs[(j, i)] == pytest.approx(v, abs=1e-12)


@st.composite
def edges_strategy(draw):
    """Random graphs of up to 15 edges: self-loops allowed, and up to five
    repeats of drawn edges, each either duplicated or reversed."""
    edges = draw(
        st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=10)
    )
    again = draw(st.lists(st.tuples(st.sampled_from(edges), st.booleans()), max_size=5))
    return edges + [(b, a) if flip else (a, b) for (a, b), flip in again]


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully so every node maps to its root
    return {x: find(x) for x in parent}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=edges_strategy())
def test_connected_components_match_union_find(edges):
    """Connected components ≡ a driver-side union-find on random graphs
    (chains, stars, cycles, merging components, self-loops, reversed and
    duplicate edges — shapes a hand-built case can miss). Root labels must
    both be the component MINIMUM. Every example runs twice: at the
    default bound, where it fits the edge finish, and with the bound at 0,
    which sends it through the hook round to the propagation loop (or
    ends at the hook round when that leaves no quotient edge)."""
    import similarity_analysis_big_data_spark.operators.components as C

    spark = _SPARK["s"]
    pairs = spark.createDataFrame(edges, ["id_l", "id_r"])
    want_root = _union_find_components(edges)
    # union-find roots are component minima only after normalizing: map each
    # root to the min member of its component
    comp_min = {}
    for node, root in want_root.items():
        comp_min[root] = min(comp_min.get(root, node), node)
    want = {node: comp_min[root] for node, root in want_root.items()}
    saved = C._DRIVER_FINISH_MAX_EDGES
    try:
        for max_edges in (saved, 0):
            C._DRIVER_FINISH_MAX_EDGES = max_edges
            got = {r["id"]: r["component"] for r in C.connected_components(pairs).collect()}
            assert got == want, f"_DRIVER_FINISH_MAX_EDGES={max_edges}"
    finally:
        C._DRIVER_FINISH_MAX_EDGES = saved


@pytest.mark.parametrize("max_edges", [None, -1], ids=["edges", "hook"])
def test_connected_components_empty_pairs(spark, monkeypatch, max_edges):
    """No pairs: the edge finish (default bound) and the hook round (a
    bound of -1 skips both driver finishes; an empty graph leaves no
    quotient, so the propagation loop is never reached) each return an
    empty (id, component) relation typed from the id column, and
    dedup_survivors keeps every doc."""
    import similarity_analysis_big_data_spark.operators.components as C
    from similarity_analysis_big_data_spark.sources.readers import local_relation

    if max_edges is not None:
        monkeypatch.setattr(C, "_DRIVER_FINISH_MAX_EDGES", max_edges)
    pairs = local_relation(spark, [], "id_l bigint, id_r bigint")
    comp = C.connected_components(pairs)
    assert [(f.name, f.dataType.simpleString()) for f in comp.schema.fields] == [
        ("id", "bigint"),
        ("component", "bigint"),
    ]
    assert comp.collect() == []
    docs = local_relation(spark, [(i, f"doc{i}") for i in range(4)], "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in C.dedup_survivors(docs, pairs, "doc_id").collect())
    assert kept == [0, 1, 2, 3]


@pytest.mark.parametrize("max_edges", [None, -1], ids=["edges", "hook"])
def test_dedup_survivors_null_edge_ends(spark, monkeypatch, max_edges):
    """An edge with a null end merges nothing on either finish: the edge
    finish drops it before its union-find, the hook round joins nothing
    on it. Survivors are the same either way, and nothing raises."""
    import similarity_analysis_big_data_spark.operators.components as C
    from similarity_analysis_big_data_spark.sources.readers import local_relation

    if max_edges is not None:
        monkeypatch.setattr(C, "_DRIVER_FINISH_MAX_EDGES", max_edges)
    pairs = local_relation(spark, [(1, 2), (3, None), (None, 4)], "id_l bigint, id_r bigint")
    docs = local_relation(spark, [(i, f"doc{i}") for i in range(1, 6)], "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in C.dedup_survivors(docs, pairs, "doc_id").collect())
    assert kept == [1, 3, 4, 5]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=2, max_size=12),
    st.integers(min_value=0, max_value=14),
)
def test_simhash_banded_equals_cross_join(sigs, max_hamming):
    """Pigeonhole recall: the banded pairing returns EXACTLY the cross-join
    pair set at any hamming threshold (VERDICT r1 #3)."""
    from similarity_analysis_big_data_spark.operators.dedup import (
        simhash_banded_pairs,
        simhash_pairs,
    )

    spark = _SPARK["s"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, simhash long"
    )
    exact = {
        (r["id_l"], r["id_r"], r["hamming"])
        for r in simhash_pairs(df, "id", max_hamming).collect()
    }
    banded = {
        (r["id_l"], r["id_r"], r["hamming"])
        for r in simhash_banded_pairs(df, "id", max_hamming).collect()
    }
    assert banded == exact


def test_char_entropy_bounds(spark):
    """0 <= H <= log2(distinct chars) for every document (Shannon bound)."""
    from similarity_analysis_big_data_spark.plans.registry import query_map

    rows = query_map()["char_entropy_scores"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["char_entropy"] <= math.log2(r["n_distinct_chars"]) + 1e-9


def test_pagerank_invariants(spark):
    """Every rank >= (1-d)/N; total mass <= 1 (leaks only via dangling
    nodes); and ranks form a probability-like vector."""
    from similarity_analysis_big_data_spark.plans.graph import pagerank
    from pyspark.sql import functions as F2

    nodes = spark.range(4).select(F2.col("id").alias("node"))
    # chain 0 -> 1 -> 2 -> 3 with a dangling 3
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, w double"
    )
    rows = pagerank(nodes, edges, iters=5, damping=0.85).collect()
    ranks = {r["node"]: r["rank"] for r in rows}
    assert set(ranks) == {0, 1, 2, 3}
    floor = 0.15 / 4
    assert all(v >= floor - 1e-12 for v in ranks.values())
    assert sum(ranks.values()) <= 1.0 + 1e-9
    # the chain accumulates: downstream nodes outrank the source
    assert ranks[0] < ranks[1] < ranks[2] < ranks[3]


def test_mad_outliers_are_extreme(spark):
    """Every flagged doc's |robust z| > 2; no flagged doc sits at its
    language's median."""
    from similarity_analysis_big_data_spark.plans.registry import query_map

    rows = query_map()["mad_outlier_docs"](spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert abs(r["robust_z"]) > 2.0


def test_flagship_dense_equals_sparse(flagship_on):
    """The dense broadcast-matmul strategy is EXTENSIONALLY equal to the
    sparse-join strategy (same round-before-argmax, same tiebreak, same
    zero-overlap restoration) on the fixture."""
    sf = "/root/testdata/sf0.001"
    dense = {tuple(r) for r in flagship_on(sf, "dense").collect()}
    sparse = {tuple(r) for r in flagship_on(sf, "sparse").collect()}
    assert dense == sparse and dense


# Degenerate corpora cut from the smoke fixture's documents table, with the
# flagship's expected row count: no documents, a single (title-sampled)
# document, and a corpus in which no document is title-sampled.
_FLAGSHIP_DEGENERATE = {
    "empty": ("SELECT * FROM docs LIMIT 0", 0),
    "one_title_doc": (
        "SELECT * FROM docs WHERE doc_id = "
        "(SELECT min(doc_id) FROM docs WHERE doc_id % {mod} = 0)",
        1,
    ),
    "no_titles": ("SELECT * FROM docs WHERE doc_id % {mod} <> 0", 0),
}


@pytest.mark.parametrize("case", sorted(_FLAGSHIP_DEGENERATE))
def test_flagship_degenerate_inputs_match_oracle(spark, sf_smoke, tmp_path, flagship_on, case):
    """Degenerate input returns the oracle's edge result under every
    strategy — auto on its first (probing) and its memoized call, then a
    memo seeded dense and one seeded sparse — and does not crash."""
    import duckdb

    from similarity_analysis_big_data_spark.plans import similarity as S
    from similarity_analysis_big_data_spark.plans.registry import QUERIES

    from .oracle import compare

    select, n_rows = _FLAGSHIP_DEGENERATE[case]
    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{sf_smoke}/documents.parquet'")
    con.execute(
        f"COPY ({select.format(mod=S.TITLE_SAMPLE_MOD)}) "
        f"TO '{sf}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(QUERIES["title_best_abstract"].oracle).fetchdf()
    con.close()
    assert len(want) == n_rows

    key = (spark.sparkContext.applicationId, sf)
    try:
        for call in ("auto", "memoized"):
            ok, msg = compare(S.title_best_abstract(spark, sf), want)
            assert ok, f"{case}/{call}: {msg}"
            # the first call left a verdict, so the second one used it
            assert S._AUTO_STRATEGY_CACHE[key] in ("sparse", "dense")
    finally:
        S._AUTO_STRATEGY_CACHE.pop(key, None)
        spark.catalog.clearCache()
    for verdict in ("dense", "sparse"):
        ok, msg = compare(flagship_on(sf, verdict), want)
        assert ok, f"{case}/{verdict}: {msg}"


# Degenerate corpora for the near-dup chain, with near_dup_survivors'
# expected row count: no documents, a single sampled document, and a corpus
# whose sampled documents all share one text (one component, one survivor).
_NEAR_DUP_DEGENERATE = {
    "empty": ("SELECT * FROM docs LIMIT 0", 0),
    "one_doc": (
        "SELECT * FROM docs WHERE doc_id = "
        "(SELECT min(doc_id) FROM docs WHERE doc_id % {mod} = 0)",
        1,
    ),
    "all_duplicate": (
        "SELECT * REPLACE (CASE WHEN doc_id % {mod} = 0 THEN "
        "(SELECT text FROM docs WHERE doc_id % {mod} = 0 ORDER BY doc_id LIMIT 1) "
        "ELSE text END AS text) FROM docs",
        1,
    ),
}


@pytest.mark.parametrize("case", sorted(_NEAR_DUP_DEGENERATE))
def test_near_dup_degenerate_inputs_match_oracle(spark, sf_smoke, tmp_path, case):
    """Degenerate input runs the whole MinHash -> LSH -> verify ->
    components -> anti-join chain to the oracle's edge result; the
    sketch self-evaluation and the PPJoin exact join, which share the
    candidate verify, match their oracles on the same corpus."""
    import duckdb

    from similarity_analysis_big_data_spark.plans import dedup as D
    from similarity_analysis_big_data_spark.plans.registry import QUERIES

    from .oracle import compare

    select, n_rows = _NEAR_DUP_DEGENERATE[case]
    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{sf_smoke}/documents.parquet'")
    con.execute(
        f"COPY ({select.format(mod=D.SAMPLE_MOD)}) "
        f"TO '{sf}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    names = ("near_dup_survivors", "minhash_estimate_accuracy", "ppjoin_exact_pairs")
    wants = {n: con.execute(QUERIES[n].oracle).fetchdf() for n in names}
    con.close()
    assert len(wants["near_dup_survivors"]) == n_rows

    try:
        for name in names:
            ok, msg = compare(QUERIES[name].fn(spark, sf), wants[name])
            assert ok, f"{case}/{name}: {msg}"
    finally:
        spark.catalog.clearCache()


# Degenerate embeddings tables for the ann family: the lowest vec_id alone,
# and every row carrying the lowest vec_id's embedding (all cosines 1).
_ANN_DEGENERATE = {
    "one_vector": "SELECT * FROM emb ORDER BY vec_id LIMIT 1",
    "all_duplicate": (
        "SELECT * REPLACE ((SELECT embedding FROM emb ORDER BY vec_id LIMIT 1) AS embedding) FROM emb"
    ),
}


@pytest.mark.parametrize("case", sorted(_ANN_DEGENERATE))
def test_ann_degenerate_inputs_match_oracle(spark, sf_smoke, tmp_path, case):
    """Every oracle-checked query in plans/ann.py gives its oracle's result
    on a one-vector table and on a table of one repeated vector: the
    empty and one-row query samples, the single IVF cell and the all-tied
    rankings."""
    import duckdb

    from similarity_analysis_big_data_spark.plans import ann as A
    from similarity_analysis_big_data_spark.plans.registry import QUERIES

    from .oracle import compare

    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW emb AS SELECT * FROM '{sf_smoke}/embeddings.parquet'")
    con.execute(f"COPY ({_ANN_DEGENERATE[case]}) TO '{sf}/embeddings.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    names = sorted(n for n, q in QUERIES.items() if q.fn.__module__ == A.__name__ and q.oracle)
    wants = {n: con.execute(QUERIES[n].oracle).fetchdf() for n in names}
    con.close()

    failed = []
    for name in names:
        ok, msg = compare(QUERIES[name].fn(spark, sf), wants[name])
        if not ok:
            failed.append(f"{name}: {msg}")
    assert failed == [], f"{case}:\n" + "\n".join(failed)


# Degenerate corpora for the exact-substring family, with
# exact_substring_spans' expected row count: no documents, one document,
# every document cut below SUBSTRING_K tokens, and the first document's
# text (23 tokens, no repeated gram) copied onto the first N documents, N
# below and above SUBSTRING_CAP. Below the cap every copy pair shares one
# span; above it every gram's bucket is dropped (on the delta's base side
# too), so no span survives.
def _substring_copies(n: int) -> str:
    return (
        "SELECT * REPLACE ((SELECT text FROM docs ORDER BY doc_id LIMIT 1) AS text) "
        f"FROM (SELECT * FROM docs ORDER BY doc_id LIMIT {n})"
    )


_SUBSTRING_N_BELOW, _SUBSTRING_N_ABOVE = SUBSTRING_CAP // 2, 2 * SUBSTRING_CAP
_SUBSTRING_DEGENERATE = {
    "empty": ("SELECT * FROM docs LIMIT 0", 0),
    "one_doc": ("SELECT * FROM docs WHERE doc_id = (SELECT min(doc_id) FROM docs)", 0),
    "shorter_than_k": (
        "SELECT * REPLACE (array_to_string("
        f"list_slice({words_sql()}, 1, {SUBSTRING_K - 1}), ' ') AS text) FROM docs",
        0,
    ),
    "copies_below_cap": (
        _substring_copies(_SUBSTRING_N_BELOW),
        _SUBSTRING_N_BELOW * (_SUBSTRING_N_BELOW - 1) // 2,
    ),
    "copies_above_cap": (_substring_copies(_SUBSTRING_N_ABOVE), 0),
}
_SUBSTRING_QUERIES = (
    "exact_substring_spans",
    "substring_dup_coverage",
    "substring_dedup_rewrite",
    "token_budget_after_dedup",
    "incremental_substring_delta",
)


@pytest.mark.parametrize("case", sorted(_SUBSTRING_DEGENERATE))
def test_substring_degenerate_inputs_match_oracle(spark, sf_smoke, tmp_path, case):
    """Degenerate input gives each exact-substring query its oracle's edge
    result and does not crash."""
    import duckdb

    from similarity_analysis_big_data_spark.plans.registry import oracle_sql_map, query_map

    from .oracle import compare

    select, n_spans = _SUBSTRING_DEGENERATE[case]
    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{sf_smoke}/documents.parquet'")
    con.execute(f"COPY ({select}) TO '{sf}/documents.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    oracles, fns = oracle_sql_map(), query_map()
    wants = {n: con.execute(oracles[n]).fetchdf() for n in _SUBSTRING_QUERIES}
    con.close()
    assert len(wants["exact_substring_spans"]) == n_spans

    for name in _SUBSTRING_QUERIES:
        ok, msg = compare(fns[name](spark, sf), wants[name])
        assert ok, f"{case}/{name}: {msg}"


# Degenerate texts on every tenth sf0.001 document: a NULL text, an empty
# text and a punctuation-only text (no word tokens).
_DEGENERATE_TEXT_SELECT = (
    "SELECT * REPLACE (CASE doc_id % 10 WHEN 1 THEN NULL WHEN 2 THEN '' "
    "WHEN 3 THEN '!!! ... ???' ELSE text END AS text) FROM docs"
)
# Queries whose edge result on such texts needs care on one engine:
# DuckDB's NULL for an empty array_to_string and its NULL-list folds, and
# the multimodal workers' NULL payloads.
_DEGENERATE_TEXT_QUERIES = (
    "array_function_battery",
    "dedup_canonical_tokenset",
    "doc_rolling_fingerprint",
    "dup_rate_by_source",
    "explode_variants_battery",
    "multimodal_fake_features",
    "multimodal_frame_sample",
)
_FIXTURE_SIZES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.fixture(scope="module")
def degenerate_text_dir(sf_smoke, tmp_path_factory) -> str:
    import duckdb

    sf = str(tmp_path_factory.mktemp("degenerate_text"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{sf_smoke}/documents.parquet'")
    con.execute(f"COPY ({_DEGENERATE_TEXT_SELECT}) TO '{sf}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    return sf


@pytest.mark.parametrize("name", _DEGENERATE_TEXT_QUERIES)
def test_degenerate_texts_match_oracle(spark, degenerate_text_dir, name):
    """NULL and token-less texts give each query its oracle's edge result:
    the empty token set has a fingerprint, an outer flatten keeps its
    parent, and a NULL payload yields a NULL feature row and no frames."""
    import duckdb

    from similarity_analysis_big_data_spark.plans.registry import oracle_sql_map, query_map

    from .oracle import compare

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{degenerate_text_dir}/documents.parquet'"
    )
    want = con.execute(oracle_sql_map()[name]).fetchdf()
    con.close()
    ok, msg = compare(query_map()[name](spark, degenerate_text_dir), want)
    assert ok, f"{name}: {msg}"


def _fixture_docs(sf_smoke: str, sf: str) -> str:
    return str(pathlib.Path(sf_smoke).parent / sf / "documents.parquet")


@pytest.mark.parametrize("sf", ("degenerate", *_FIXTURE_SIZES))
def test_words_equals_words_sql(spark, sf_smoke, degenerate_text_dir, sf):
    """The word-token rule gives the same token array on both engines,
    row for row (NULL text -> NULL array, token-less text -> empty)."""
    import duckdb

    from similarity_analysis_big_data_spark.functions.text import words, words_sql

    path = (
        f"{degenerate_text_dir}/documents.parquet"
        if sf == "degenerate"
        else _fixture_docs(sf_smoke, sf)
    )
    got = {
        r.doc_id: r.tokens
        for r in spark.read.parquet(path).select("doc_id", words("text").alias("tokens")).collect()
    }
    con = duckdb.connect()
    want = dict(con.execute(f"SELECT doc_id, {words_sql()} FROM '{path}'").fetchall())
    con.close()
    assert got == want
    if sf == "degenerate":
        assert all(got[i] is None for i in got if i % 10 == 1)
        assert all(got[i] == [] for i in got if i % 10 in (2, 3))


# (doc_id, term, tf, df) over an n_docs = 1 corpus: df = 0 rows are the
# title left-join path, doc 2 is a one-term vector, and docs 1 and 3 carry
# tied weights.
_TFIDF_TWIN_ROWS = [
    (1, "a", 1, 0),
    (1, "b", 1, 0),
    (2, "c", 3, 1),
    (3, "d", 2, 1),
    (3, "e", 2, 1),
    (3, "f", 1, 0),
]


@pytest.mark.parametrize("n_docs", ("column", "literal"))
def test_tfidf_weight_and_l2_equal_their_sql_twins(spark, n_docs):
    """``tfidf_weight`` / ``tfidf_weight_sql`` and ``l2_normalize`` /
    ``l2_normalize_sql`` give the same rows and dtypes on one frame, with
    the corpus size as a cross-joined column (the registered queries) or
    as a literal (the CLI and every memoized call)."""
    import duckdb

    from similarity_analysis_big_data_spark.functions.tfidf import (
        l2_normalize_sql,
        tfidf_weight,
        tfidf_weight_sql,
    )

    from .oracle import compare

    rows = [r + (1,) for r in _TFIDF_TWIN_ROWS]
    schema = "doc_id long, term string, tf long, df long, n long"
    n_spark, n_sql = (F.col("n"), "n") if n_docs == "column" else (1, "1")
    weighted = spark.createDataFrame(rows, schema).select(
        "doc_id", "term", tfidf_weight("tf", "df", n_spark).alias("weight")
    )
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema.replace('long', 'BIGINT').replace('string', 'VARCHAR')})")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    sql_weighted = f"SELECT doc_id, term, {tfidf_weight_sql(n_docs=n_sql)} AS w FROM t"
    try:
        ok, msg = compare(
            weighted, con.execute(f"SELECT doc_id, term, w AS weight FROM ({sql_weighted})").fetchdf()
        )
        assert ok, f"weight: {msg}"
        normalized = l2_normalize(weighted, ["doc_id"])
        ok, msg = compare(
            normalized,
            con.execute(
                f"SELECT doc_id, term, {l2_normalize_sql(['doc_id'])} AS weight FROM ({sql_weighted})"
            ).fetchdf(),
        )
        assert ok, f"l2: {msg}"
    finally:
        con.close()
    got = {(r.doc_id, r.term): r.weight for r in normalized.collect()}
    assert got[(2, "c")] == 1.0  # the one-term vector
    assert got[(1, "a")] == got[(1, "b")] and got[(3, "d")] == got[(3, "e")]  # ties


@pytest.mark.parametrize("sf", _FIXTURE_SIZES)
def test_documents_fixture_is_ascii(sf_smoke, sf):
    """The cross-engine precondition of ``words`` / ``words_sql``: (?U)\\w
    and RE2's ASCII \\w split alike only on ASCII text."""
    import duckdb

    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM '{_fixture_docs(sf_smoke, sf)}' "
        "WHERE strlen(text) <> length(text)"
    ).fetchone()
    con.close()
    assert n == 0


def _ann_on_fold(spark, sf: str):
    """ann_bruteforce_topk with the dense scorer's broadcast bound at 0,
    so ``_exact_topk`` takes the column-expression fold."""
    from similarity_analysis_big_data_spark.plans import ann

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ann, "DENSE_MAX_BROADCAST_CELLS", 0)
        df = ann.ann_bruteforce_topk(spark, sf)
    assert "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()
    return df


def test_ann_dense_equals_hof(spark):
    """dense_topk_neighbors (BLAS blocked matmul, the fixture's default
    scorer) is extensionally equal to the column-expression fold
    formulation, ranks included."""
    from similarity_analysis_big_data_spark.plans.ann import ann_bruteforce_topk

    sf = "/root/testdata/sf0.001"
    dense = {tuple(r) for r in ann_bruteforce_topk(spark, sf).collect()}
    hof = {tuple(r) for r in _ann_on_fold(spark, sf).collect()}
    assert dense == hof and dense


def test_ann_zero_norm_vectors_match_oracle_under_both_strategies(
    spark, sf_smoke, tmp_path
):
    """A zero-norm query (vec_id 0) and a zero-norm corpus vector (vec_id
    7): every pair touching them scores NULL and ranks after every finite
    score, ties by ascending id, so the zero-norm query still gets k rows.
    The dense and fold strategies return the same rows as the oracle."""
    import duckdb

    from similarity_analysis_big_data_spark.plans.ann import ann_bruteforce_topk
    from similarity_analysis_big_data_spark.plans.registry import QUERIES

    from .oracle import compare

    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * REPLACE (CASE WHEN vec_id IN (0, 7) THEN "
        "list_transform(embedding, x -> CAST(0 AS FLOAT)) ELSE embedding END "
        f"AS embedding) FROM '{sf_smoke}/embeddings.parquet' WHERE vec_id < 120) "
        f"TO '{sf}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = con.execute(QUERIES["ann_bruteforce_topk"].oracle).fetchdf()
    con.close()
    zero_q = want[want["query_id"] == 0]
    assert list(zero_q.sort_values("rnk")["neighbor_id"]) == [1, 2, 3, 4, 5]
    assert zero_q["cosine"].isna().all()

    dense = ann_bruteforce_topk(spark, sf)
    hof = _ann_on_fold(spark, sf)
    assert sorted(map(tuple, dense.collect()), key=repr) == sorted(
        map(tuple, hof.collect()), key=repr
    )
    for strategy, df in (("dense", dense), ("hof", hof)):
        ok, msg = compare(df, want)
        assert ok, f"{strategy}: {msg}"


def test_asof_cogroup_equals_window_form(spark):
    """The cogroup/merge_asof surface is extensionally equal to the
    union+window formulation (full-output consumption — no pruning)."""
    from similarity_analysis_big_data_spark.plans.relational import (
        asof_join_cogroup,
        asof_join_purchase_click,
    )

    sf = "/root/testdata/sf0.001"
    cg = {tuple(r) for r in asof_join_cogroup(spark, sf).collect()}
    win = {tuple(r) for r in asof_join_purchase_click(spark, sf).collect()}
    assert cg == win and cg


def test_asof_cogroup_survives_catalyst_input_pruning(spark):
    """The r2 crash: Catalyst's ColumnPruning reaches THROUGH
    FlatMapCoGroupsInPandas — when the query consumes only a subset of the
    UDF's output columns, INPUT columns the function references are dropped
    from the Arrow batches (df.count() consumes none → the right side
    arrives as key-only; verified on pyspark 4.1.2). The merge function
    must stub missing columns; row count is invariant because merge_asof
    is 1:1 with the left side."""
    from similarity_analysis_big_data_spark.plans.relational import (
        asof_join_cogroup,
    )

    sf = "/root/testdata/sf0.001"
    df = asof_join_cogroup(spark, sf)
    n_purchases = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    # count() prunes ALL udf inputs; subset-selects prune different ones.
    assert df.count() == n_purchases
    assert df.select("purchase_ts").count() == n_purchases
    assert df.select("last_click_ts").count() == n_purchases
    # values under a pruned projection still match the full run for the
    # columns the pruned plan kept.
    full = sorted(r["purchase_ts"] for r in df.collect())
    pruned = sorted(r["purchase_ts"] for r in df.select("purchase_ts").collect())
    assert full == pruned


def test_dense_topk_boundary_ties_follow_contract(spark):
    """Advisor-flagged: argpartition's arbitrary cut at the k-th boundary
    must not survive — with duplicate embeddings (tied rounded scores
    crossing the k-th rank) the kept neighbor set is exactly the
    (desc cosine, asc neighbor_id) prefix, bit-equal to a numpy oracle."""
    import numpy as np

    from similarity_analysis_big_data_spark.operators.similarity import (
        dense_topk_neighbors,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8)).round(2)
    # 48 corpus vectors = each base vector duplicated 8x -> massive ties
    vecs = np.tile(base, (8, 1))
    ids = np.arange(len(vecs), dtype=np.int64)
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(7)  # ties split across partitions
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(3)],
        "query_id long, query_vec array<double>",
    )
    k = 5
    got = dense_topk_neighbors(
        queries, corpus, "query_id", "query_vec", "vec_id", "embedding", k
    ).collect()

    # numpy oracle: round-6 scores, exclude self, (desc score, asc id) top-k
    norms = np.linalg.norm(vecs, axis=1)
    expected = {}
    for q in range(3):
        qv = base[q]
        qs = np.round(vecs @ qv / (norms * np.linalg.norm(qv)), 6)
        order = sorted(
            (i for i in ids if i != q),
            key=lambda i: (-qs[i], i),
        )[:k]
        expected[q] = [(int(i), float(qs[i])) for i in order]
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rnk"])):
        got_by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["cosine"])
        )
    assert got_by_q == expected


def test_dense_topk_blocked_equals_one_shot(spark, monkeypatch):
    """The r12 corpus-row chunking in dense_topk_neighbors (bounding the
    (rows x |Q|) score block) must be invisible: 1-row blocks — every
    boundary tie now also straddles a chunk boundary — return exactly the
    one-shot rows, ranks included."""
    import numpy as np

    from similarity_analysis_big_data_spark.operators import similarity as ops

    rng = np.random.default_rng(11)
    base = rng.normal(size=(5, 6)).round(2)
    vecs = np.tile(base, (6, 1))  # duplicates -> ties across chunks
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(3)],
        "query_id long, query_vec array<double>",
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["rnk"], r["neighbor_id"], r["cosine"])
            for r in df.collect()
        )

    one_shot = rows(
        ops.dense_topk_neighbors(
            queries, corpus, "query_id", "query_vec", "vec_id", "embedding", 4
        )
    )
    monkeypatch.setattr(ops, "DENSE_BLOCK_CELLS", 1)
    blocked = rows(
        ops.dense_topk_neighbors(
            queries, corpus, "query_id", "query_vec", "vec_id", "embedding", 4
        )
    )
    assert blocked == one_shot


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 50)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_stable_dense_ids_random(rows):
    """Random (rid, coarse-key) relations: ids are exactly the dense rank
    of the (key, rid) total order — duplicates, skew, tiny buckets."""
    from similarity_analysis_big_data_spark.operators import rank
    from similarity_analysis_big_data_spark.operators.reindex import stable_dense_ids

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows, "rid long, k long").repartition(5)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(rank, "RANK_BUCKETS", 7)
        got = {r["rid"]: r["new_id"] for r in stable_dense_ids(df, "k", "rid").collect()}
    want = {rid: i for i, (rid, _k) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))}
    assert got == want


def test_containment_detects_subset_docs(spark):
    """A document whose token set is a strict subset of another's must
    appear with containment 1.0 in the subset->superset direction."""
    from similarity_analysis_big_data_spark.plans.datapipe import doc_containment_pairs
    import similarity_analysis_big_data_spark.plans.datapipe as dp

    rows = [r for r in doc_containment_pairs(spark, "/root/testdata/sf0.001").collect()]
    # fixture sanity: the query produced ordered pairs and every
    # containment is within (0, 1]
    assert rows
    assert all(0.0 < r["containment"] <= 1.0 for r in rows)
    # directionality: containment(l->r) uses |l|'s size; verify one pair
    # against a driver-side recomputation
    import re as _re

    docs = {
        r["doc_id"]: set(
            t for t in _re.split(r"[^\w]+", r["text"].lower()) if t
        )
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") % dp.CONTAIN_MOD == 0)
        .collect()
    }
    for r in rows[:25]:
        a, b = docs[r["id_l"]], docs[r["id_r"]]
        assert r["containment"] == pytest.approx(len(a & b) / len(a), abs=1e-6)


def test_tokenize_to_ids_roundtrip(spark):
    """Decode invariant: mapping a document's token_ids back through the
    vocabulary reproduces exactly its in-vocab tokens in order, and every
    -1 lines up with an out-of-vocab token."""
    import re as _re

    from similarity_analysis_big_data_spark.plans.lm import (
        UNK_ID,
        VOCAB_SIZE,
        tokenize_corpus_to_ids,
    )
    from similarity_analysis_big_data_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r["token_ids"] for r in tokenize_corpus_to_ids(spark, sf).collect()}
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, sf, "documents").collect()}

    # reference vocabulary built driver-side with the same (count desc,
    # term asc) ranking
    from collections import Counter

    def toks(text):
        return [t for t in _re.split(r"\W+", text.lower()) if t]

    counts = Counter()
    for text in docs.values():
        counts.update(toks(text))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_SIZE]
    vocab = {term: i for i, (term, _) in enumerate(ranked)}

    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        want = [vocab.get(t, UNK_ID) for t in toks(text)]
        have = [int(x) for x in got[doc_id].split(",")] if got[doc_id] else []
        assert have == want, f"doc {doc_id}: id sequence diverges"


def test_bpe_pair_counts_match_reference(spark):
    """The top BPE merge-pair counts equal a driver-side recomputation of
    frequency-weighted adjacent char pairs."""
    import re as _re
    from collections import Counter

    from similarity_analysis_big_data_spark.plans.lm import bpe_merge_pairs
    from similarity_analysis_big_data_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = {(r["sym_pair"]): (r["pair_count"], r["rnk"]) for r in bpe_merge_pairs(spark, sf).collect()}

    wf = Counter()
    for r in load_table(spark, sf, "documents").collect():
        wf.update(t for t in _re.split(r"\W+", r["text"].lower()) if t)
    pairs = Counter()
    for word, w in wf.items():
        for i in range(len(word) - 1):
            pairs[word[i : i + 2]] += w
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    for rnk, (pair, cnt) in enumerate(want, start=1):
        assert got[pair] == (cnt, rnk)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # order key (dups ok)
            st.integers(min_value=0, max_value=9),  # value
        ),
        min_size=0,
        max_size=60,
    ),
    n_buckets=st.sampled_from([1, 2, 5, 32]),
    n_cells=st.sampled_from([1, 3, 32]),
)
def test_bucketed_rank_and_sums_match_windows_on_random_data(rows, n_buckets, n_cells):
    """Property: for ANY key distribution (ties, negatives, constant keys,
    no rows), ANY percentile bucket count and ANY equal-width grid, the
    bucketed rank / running sum / running max agree row-for-row with the
    global-window forms."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.operators import rank

    spark = _SPARK["s"]
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k long, v long"
    )
    w = W.orderBy("k", "id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    exp = (
        df.withColumn("r", F.row_number().over(w))
        .withColumn("cum_units", F.sum("v").over(run))
        .withColumn("run_max", F.max("v").over(run))
    )
    # the equal-width grid of bucketed_running_max's one caller
    # (event_lateness_watermark_profile): n_cells cells over [min k, max k]
    mm = df.agg(F.min("k").alias("_lo"), F.max("k").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo") + 1).cast("double") / n_cells
    grid = F.floor((F.col("k") - F.col("_lo")).cast("double") / width).cast("int")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(rank, "RANK_BUCKETS", n_buckets)
        got = rank.bucketed_row_number(df, "k", ["id"], rank_name="r")
        got = rank.bucketed_running_sum(got, "k", ["id"], "v")
    got = rank.bucketed_running_max(got.crossJoin(F.broadcast(mm)), "k", ["id"], "v", grid)
    cols = ["id", "k", "v", "r", "cum_units", "run_max"]
    g, e = got.select(cols), exp.select(cols)
    assert g.exceptAll(e).count() == 0 and e.exceptAll(g).count() == 0


import re as _re

sentence_strategy = st.lists(
    st.sampled_from(["aa bb", "aa", "bb cc", "Aa Bb", "cc", "dd aa"]),
    min_size=0,
    max_size=8,
)
separator_strategy = st.lists(
    st.sampled_from([". ", "! ", "? ", ".", "!? "]), min_size=8, max_size=8
)


def _ref_intradoc(text: str) -> tuple[int, int, str]:
    """Independent pure-Python model of dedup_intradoc_repeats_rewrite."""
    parts = [p.strip(" ") for p in _re.split(r"[.!?]+", text)]
    parts = [p for p in parts if p != ""]
    seen: set[str] = set()
    kept = []
    for p in parts:
        if p.lower() not in seen:
            seen.add(p.lower())
            kept.append(p)
    return len(parts), len(kept), ". ".join(kept)


@given(st.lists(st.tuples(sentence_strategy, separator_strategy), min_size=1, max_size=3))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_intradoc_rewrite_matches_python_reference(docs):
    """Case-folded first-occurrence keeping over arbitrary stutter
    patterns (repeats, case-variant repeats, empty docs, leading/trailing
    separators) agrees with an independent Python model."""
    import tempfile
    import uuid

    from similarity_analysis_big_data_spark.plans import registry

    registry._load_all()
    QUERIES = registry.QUERIES
    spark = _SPARK["s"]
    rows = []
    for i, (sents, seps) in enumerate(docs):
        text = "".join(s + sep for s, sep in zip(sents, seps))
        rows.append((i, text, "en", "web", len(text)))
    sf_dir = tempfile.mkdtemp(prefix=f"intradoc_{uuid.uuid4().hex[:6]}_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_sentences"], r["n_kept"], r["cleaned_text"])
        for r in QUERIES["dedup_intradoc_repeats_rewrite"].fn(spark, sf_dir).collect()
    }
    for i, (sents, seps) in enumerate(docs):
        text = "".join(s + sep for s, sep in zip(sents, seps))
        n_parts, n_kept, cleaned = _ref_intradoc(text)
        if n_parts == 0:
            # a doc with no nonempty sentence contributes no exploded rows
            # and drops out of the groupBy — absent from the result
            assert i not in got
        else:
            assert got[i] == (n_parts, n_kept, cleaned), (i, text)
