"""Property-based tests (SURVEY §5): the sparse-join reformulation must be
extensionally equal to the reference's cartesian on arbitrary corpora, and
the vector invariants must hold for any non-negative weights.

hypothesis generates the corpora; examples are capped because every example
is a full Spark job.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.functions.tfidf import l2_normalize
from similarity_analysis_big_data_spark.operators.similarity import (
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
        for r in all_pairs_cosine_exact(vectors, "id").collect()
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


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=15,
)


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
@given(edges=edges_strategy)
def test_connected_components_match_union_find(edges):
    """Distributed min-label propagation ≡ driver-side union-find on random
    graphs (chains, stars, cycles, merging components — shapes a hand-built
    case can miss). Root labels must both be the component MINIMUM."""
    from similarity_analysis_big_data_spark.operators.components import connected_components

    spark = _SPARK["s"]
    pairs = spark.createDataFrame(edges, ["id_l", "id_r"])
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    want_root = _union_find_components(edges)
    # union-find roots are component minima only after normalizing: map each
    # root to the min member of its component
    comp_min = {}
    for node, root in want_root.items():
        comp_min[root] = min(comp_min.get(root, node), node)
    want = {node: comp_min[root] for node, root in want_root.items()}
    assert got == want


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


def test_flagship_dense_equals_sparse(spark):
    """The dense broadcast-matmul strategy is EXTENSIONALLY equal to the
    sparse-join strategy (same round-before-argmax, same tiebreak, same
    zero-overlap restoration) on the fixture."""
    from similarity_analysis_big_data_spark.plans.similarity import title_best_abstract

    sf = "/root/testdata/sf0.001"
    dense = {tuple(r) for r in title_best_abstract(spark, sf, strategy="dense").collect()}
    sparse = {tuple(r) for r in title_best_abstract(spark, sf, strategy="sparse").collect()}
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
def test_flagship_degenerate_inputs_match_oracle(spark, sf_smoke, tmp_path, case):
    """Degenerate input returns the oracle's edge result under every
    strategy — auto on its first (probing) and its memoized call, forced
    dense, forced sparse — and does not crash."""
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
        for strategy in ("auto", "auto", "dense", "sparse"):
            ok, msg = compare(S.title_best_abstract(spark, sf, strategy=strategy), want)
            assert ok, f"{case}/{strategy}: {msg}"
        # the first auto call left a verdict, so the second one used it
        assert S._AUTO_STRATEGY_CACHE[key] in ("sparse", "dense")
    finally:
        S._AUTO_STRATEGY_CACHE.pop(key, None)
        spark.catalog.clearCache()


def test_ann_dense_equals_hof(spark):
    """dense_topk_neighbors (BLAS blocked matmul) is extensionally equal to
    the column-expression fold formulation, ranks included."""
    from similarity_analysis_big_data_spark.plans.ann import ann_bruteforce_topk

    sf = "/root/testdata/sf0.001"
    dense = {tuple(r) for r in ann_bruteforce_topk(spark, sf, strategy="dense").collect()}
    hof = {tuple(r) for r in ann_bruteforce_topk(spark, sf, strategy="hof").collect()}
    assert dense == hof and dense


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
        queries, corpus, "query_id", "query_vec", "vec_id", "embedding", k,
        round_to=6,
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
            queries, corpus, "query_id", "query_vec", "vec_id", "embedding", 4,
            round_to=6,
        )
    )
    monkeypatch.setattr(ops, "DENSE_BLOCK_CELLS", 1)
    blocked = rows(
        ops.dense_topk_neighbors(
            queries, corpus, "query_id", "query_vec", "vec_id", "embedding", 4,
            round_to=6,
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
    from similarity_analysis_big_data_spark.operators.reindex import stable_dense_ids

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows, "rid long, k long").repartition(5)
    got = {r["rid"]: r["new_id"] for r in stable_dense_ids(df, "k", "rid", n_buckets=7).collect()}
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
        min_size=1,
        max_size=60,
    ),
    n_buckets=st.sampled_from([1, 2, 5, 32]),
)
def test_bucketed_rank_and_sums_match_windows_on_random_data(rows, n_buckets):
    """Property: for ANY key distribution (ties, negatives, constant keys)
    and ANY bucket count, the bucketed rank / running sum / running max
    agree row-for-row with the global-window forms."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
        bucketed_running_max,
        bucketed_running_sum,
    )

    spark = _SPARK["s"]
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k long, v long"
    )
    w = W.orderBy("k", "id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    exp = (
        df.withColumn("r", F.row_number().over(w))
        .withColumn("rs", F.sum("v").over(run))
        .withColumn("rm", F.max("v").over(run))
    )
    got = bucketed_row_number(df, "k", ["id"], rank_name="r", n_buckets=n_buckets)
    got = bucketed_running_sum(got, "k", ["id"], "v", sum_name="rs", n_buckets=n_buckets)
    got = bucketed_running_max(got, "k", ["id"], "v", max_name="rm", n_buckets=n_buckets)
    cols = ["id", "k", "v", "r", "rs", "rm"]
    g, e = got.select(cols), exp.select(cols)
    assert g.exceptAll(e).count() == 0 and e.exceptAll(g).count() == 0


@settings(max_examples=40, deadline=None)
@given(
    fields=st.lists(
        st.tuples(
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
            ),
            st.sampled_from(
                [
                    "string", "bigint", "int", "double", "float", "boolean",
                    "binary", "date", "timestamp", "decimal(12,2)",
                    "array<string>", "array<bigint>", "map<string,double>",
                    "array<decimal(10,3)>", "map<bigint,array<string>>",
                ]
            ),
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_flat_ddl_parser_roundtrips_simple_strings(fields):
    """Property: the session-free legacy-manifest DDL parser re-parses any
    flat schema's simpleString back to the identical StructType."""
    from pyspark.sql.types import StructField, StructType

    from similarity_analysis_big_data_spark.sources.pydatasource import (
        _parse_flat_ddl,
    )

    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    parsed = _parse_flat_ddl(ddl)
    assert parsed.simpleString() == f"struct<{','.join(f'{n}:{t}' for n, t in fields)}>"
    assert isinstance(parsed, StructType)
    assert all(isinstance(f, StructField) for f in parsed.fields)


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
