"""Property/unit tests for dedup, vector, hashing and multimodal operators."""

from __future__ import annotations

import ast
import math
import pathlib
import re

import pytest
from pyspark.sql import functions as F

import similarity_analysis_big_data_spark as pkg

from similarity_analysis_big_data_spark.functions.hashing import rolling_fingerprint
from similarity_analysis_big_data_spark.functions.text import word_ngrams, tokenize
from similarity_analysis_big_data_spark.functions.vectors import cosine_similarity, dot
from similarity_analysis_big_data_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
    simhash_pairs,
    simhash_signatures,
)
from similarity_analysis_big_data_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup (1 word)
        (4, "completely different content about spark engines"),
        (5, "spark engines process completely different content about"),  # shuffled 4
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    groups = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # doc 2 collapses into doc 1


def test_minhash_lsh_finds_near_dups(docs):
    shingles = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize(F.lower("text")))).alias("shingle")
    )
    sigs = minhash_signatures(shingles, "doc_id")
    assert sigs.columns == ["doc_id"] + [f"mh{i}" for i in range(12)]
    cands = {(r["id_l"], r["id_r"]) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in cands  # identical token sets always collide
    # near-dup (1,3) shares 8/10 tokens — jaccard 0.8, should collide in some band
    assert (1, 3) in cands


def test_jaccard_exact_values(docs):
    shingles = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize(F.lower("text")))).alias("shingle")
    )
    jacc = {(r["id_l"], r["id_r"]): r["jaccard"] for r in jaccard_pairs(shingles, "doc_id").collect()}
    assert jacc[(1, 2)] == pytest.approx(1.0)
    # docs 1/3: tokens {the,quick,brown,fox,jumps/leaps,over,lazy,dog} -> 7 shared, 9 union
    assert jacc[(1, 3)] == pytest.approx(7 / 9)
    # docs 4/5: doc5 adds "process" -> 6 shared of 7 union
    assert jacc[(4, 5)] == pytest.approx(6 / 7)


def test_simhash_near_dups_have_small_hamming(docs):
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.lower("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("weight"))
    )
    sigs = simhash_signatures(tf, "doc_id")
    pairs = {(r["id_l"], r["id_r"]): r["hamming"] for r in simhash_pairs(sigs, "doc_id", 32).collect()}
    assert pairs[(1, 2)] == 0  # identical docs -> identical signatures
    assert pairs[(1, 3)] < pairs.get((1, 4), 32)  # near dup closer than unrelated


def test_word_ngrams(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],), (["a"],)], ["toks"])
    out = [r["g"] for r in df.select(word_ngrams("toks", 3).alias("g")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # shorter than n -> empty, not a descending-sequence crash


def test_with_word_ngrams_matches_column_form(spark):
    """The compiled-Scala NGram path (r13) must be row-identical to the
    interpreted word_ngrams Column form — same grams in the same (position)
    order, empty below n, exactly-n, and null arrays normalized to empty."""
    from similarity_analysis_big_data_spark.functions.text import with_word_ngrams

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a"]),
        (3, ["x", "y", "z"]),  # exactly n for n=3
        (4, None),
        (5, []),
        (6, ["a", "a", "a", "a", "a"]),  # repeats preserved per position
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    for n in (2, 3, 5):
        got = {
            r["id"]: r["g"]
            for r in with_word_ngrams(df, "toks", n, "g").select("id", "g").collect()
        }
        want = {
            r["id"]: r["g"]
            for r in df.select("id", word_ngrams("toks", n).alias("g")).collect()
        }
        # word_ngrams(null) -> empty array; with_word_ngrams normalizes the
        # same way
        assert got == want, (n, got, want)


def _has_python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


# (rows, schema) for every driver-side relation shape the engine builds,
# plus the edge cases: empty list, null values, array<double>, and both
# DDL spellings ("a type" and "a: type")
_LOCAL_RELATION_CASES = [
    ([(3, 1), (7, 1)], "sid bigint, newc bigint"),
    ([("n002", "n000")], "sid string, newc string"),
    ([(5, 2)], "sid int, newc int"),
    ([], "qid long, neighbor_id long, cosine double, rnk long"),
    ([("2024-01-01", 0), ("2024-01-02", -3)], "day string, carry_in long"),
    (
        [("budget", 0.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 100000.0)],
        "bracket string, lo double, hi double",
    ),
    ([(0, None), (1, 40), (2, 50)], "bkt int, carry_max long"),
    ([(0, [0.5, -1.25]), (1, [])], "cid: long, cv: array<double>"),
    ([], "rnk int, vec_id bigint"),
    ([(1, 4), (2, 17)], "rnk int, vec_id bigint"),
    ([(0, 3, [1.0, 2.0, None])], "s int, code long, cw array<double>"),
    ([(1,), (2,), (4,)], "nprobe int"),
    ([("the", 0), (None, 1)], "term string, tid long"),
    (
        [(1, "a b", 12, 340)],
        "round int, merge_pair string, pair_count long, n_symbols_after long",
    ),
    ([(0, 1, 0.123456)], "i int, j int, cov double"),
    ([], "i int, j int, cov double"),
    ([], "vec_id long, pc long, value double"),
]


@pytest.mark.parametrize("rows,schema", _LOCAL_RELATION_CASES)
def test_local_relation_matches_create_dataframe(spark, rows, schema):
    """local_relation is createDataFrame(list, schema) minus the Python
    worker: same schema, same rows — and its lineage has no PythonRDD
    while the pickled path's does (so the check can tell them apart)."""
    from similarity_analysis_big_data_spark.sources.readers import local_relation

    got = local_relation(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    assert not _has_python_rdd(got)
    assert _has_python_rdd(want)


@pytest.mark.parametrize("rows", [[(1, 2, 3)], [(1, 2), (3,)], [(1,)]])
def test_local_relation_rejects_wrong_arity(spark, rows):
    """A row that does not match the schema's field count raises (as
    createDataFrame's length check does) instead of being truncated."""
    from similarity_analysis_big_data_spark.sources.readers import local_relation

    with pytest.raises(ValueError):
        local_relation(spark, rows, "a long, b long")


def test_only_local_relation_calls_create_dataframe():
    """Guard: every driver-built relation in the engine goes through
    sources.readers.local_relation. A bare ``.createDataFrame(`` call
    anywhere else in the package brings back the pickled PythonRDD path."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and fn.name == "local_relation"
            and path == root / "sources" / "readers.py"
            for node in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert offenders == [], f"use sources.readers.local_relation: {offenders}"


def test_package_caches_nothing():
    """Guard: no ``.persist(`` or ``.cache()`` call in the package. A cached
    relation stays in the session's CacheManager until someone unpersists
    it, so a long-lived driver would keep one copy per input. Materialize
    with ``localCheckpoint``: its blocks are released with the plan."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr in ("persist", "cache")
    ]
    assert offenders == [], f"use localCheckpoint: {offenders}"


def _callee(call: ast.Call) -> str:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")


def test_word_token_rule_is_stated_once():
    """Guard: the word-token rule (lowercase, split on non-word runs, drop
    empty strings) is ``words`` / ``words_sql`` in functions/text.py. A
    hand-written ``tokenize(F.lower(...))`` call or a DuckDB
    ``regexp_split_to_array(lower(`` string anywhere else in the package
    would let the two engines' token sets drift apart."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "functions" / "text.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            spark_copy = (
                isinstance(node, ast.Call)
                and _callee(node) == "tokenize"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and _callee(node.args[0]) == "lower"
            )
            sql_copy = (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "regexp_split_to_array(lower(" in node.value
            )
            if spark_copy or sql_copy:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == [], f"use functions.text.words / words_sql: {offenders}"


# the DuckDB TF-IDF weight and the per-document L2 window (a grouped
# vector norm such as ``sqrt(sum(c * c)) AS nrm`` is neither)
_TFIDF_SQL_COPY = re.compile(r"log10\(\(|sqrt\(sum\([^()]*\)\s*OVER", re.S)


def test_tfidf_weight_and_l2_window_are_stated_once():
    """Guard: the sklearn-smooth weight and the L2 window are stated for
    DuckDB once, as ``tfidf_weight_sql`` / ``l2_normalize_sql`` beside
    their Spark forms in functions/tfidf.py. A hand-written ``log10((``
    or ``sqrt(sum(...) OVER`` string anywhere else in the package would
    let an oracle drift from the query it checks."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "functions" / "tfidf.py"
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _TFIDF_SQL_COPY.search(node.value)
    ]
    assert offenders == [], f"use functions.tfidf.tfidf_weight_sql / l2_normalize_sql: {offenders}"


def test_perfbench_engine_imports_resolve():
    """Guard: every engine name a ``perfbench/*.py`` file imports, at module
    level or inside a function, still exists, and every call of an
    imported engine callable (``name(...)`` or ``module.name(...)``) still
    binds to its signature. The benchmark cannot be edited alongside an
    engine refactor, so a renamed operator, constant or parameter would
    otherwise break every benchmark run with no tier-1 test failing.
    Reads ``perfbench/`` only."""
    import importlib
    import inspect

    bench = pathlib.Path(pkg.__file__).parent.parent / "perfbench"
    missing, unbound, seen, bound = [], [], 0, 0
    for path in sorted(bench.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        engine = {}  # local name -> engine module or object
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg.__name__):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    seen += 1
                    if not hasattr(mod, alias.name):
                        missing.append(f"{path.name}:{node.lineno} {node.module}.{alias.name}")
                    else:
                        engine[alias.asname or alias.name] = getattr(mod, alias.name)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(pkg.__name__):
                        seen += 1
                        importlib.import_module(alias.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                fn = engine.get(f.id)
            elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and inspect.ismodule(engine.get(f.value.id)):
                fn = getattr(engine[f.value.id], f.attr, None)
            else:
                continue
            if not callable(fn) or any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                continue
            try:
                inspect.signature(fn).bind(*node.args, **{k.arg: k.value for k in node.keywords})
                bound += 1
            except TypeError as exc:
                unbound.append(f"{path.name}:{node.lineno} {ast.unparse(node.func)}: {exc}")
    assert seen and bound, "no engine import or call found under perfbench/"
    assert missing == [], f"perfbench imports names the engine no longer has: {missing}"
    assert unbound == [], "perfbench calls that no longer bind:\n" + "\n".join(unbound)


def _unused_imports(path: pathlib.Path) -> list[tuple[int, str]]:
    """``(line, name)`` for every name ``path`` imports and never uses.
    ``__future__`` imports and ``# noqa: F401`` lines are exempt; a name
    inside a string annotation (``"F.Column"``) or listed in ``__all__``
    (a re-export) counts as used."""
    src = path.read_text()
    tree, lines = ast.parse(src), src.splitlines()
    used, imported = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(getattr(t, "id", "") == "__all__" for t in node.targets):
            used |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
        elif isinstance(node, (ast.arg, ast.AnnAssign, ast.FunctionDef, ast.AsyncFunctionDef)):
            ann = node.returns if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else node.annotation
            for c in ast.walk(ann) if ann else ():
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    used |= {n.id for n in ast.walk(ast.parse(c.value, mode="eval")) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)) and getattr(node, "module", "") != "__future__":
            imported += [
                (a.lineno, a.asname or a.name.split(".")[0])
                for a in node.names
                if a.name != "*" and "# noqa: F401" not in lines[a.lineno - 1] + lines[node.lineno - 1]
            ]
    return [(line, name) for line, name in imported if name not in used]


def test_no_unused_imports():
    """Guard: no file in the package, ``tests/``, ``deploy/``, ``bench.py``
    or ``__spark_entry__.py`` imports a name it never uses (the repo runs
    no linter, so a refactor's dead imports would otherwise stay)."""
    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent
    paths = [
        *sorted(root.rglob("*.py")),
        *sorted((repo / "tests").glob("*.py")),
        *sorted((repo / "deploy").glob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    unused = [
        f"{path.relative_to(repo)}:{line} {name}" for path in paths for line, name in _unused_imports(path)
    ]
    assert unused == [], "unused imports:\n" + "\n".join(unused)


# Package defs that nothing in the reachability guard's roots reaches, kept
# on purpose. Keyed ``module.def`` (package-relative); each reason names
# the reached function the def is the test reference for.
UNREACHED_ALLOWED = {
    "functions.text.word_ngrams": "test reference for with_word_ngrams",
    "operators.dedup.simhash_pairs": "test reference for simhash_banded_pairs",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_COVERAGE = pathlib.Path(__file__).parent.parent / "COVERAGE.md"
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _names(node: ast.AST, strings: bool = True) -> set[str]:
    """Every identifier a subtree can reach a def by: names, attributes,
    import aliases and (with ``strings``) identifier-shaped string
    constants."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.fullmatch(n.value):
            out.add(n.value)
    return out


def _module_level(body: list[ast.stmt]):
    """Module-level statements and expressions, looking inside module-level
    ``if``/``try`` blocks (a def there is still a top-level def)."""
    for st in body:
        if not isinstance(st, (ast.If, ast.Try)):
            yield st
            continue
        handlers = getattr(st, "handlers", [])
        yield from filter(None, [getattr(st, "test", None), *(h.type for h in handlers)])
        for block in (st.body, st.orelse, getattr(st, "finalbody", []), *(h.body for h in handlers)):
            yield from _module_level(block)


def _tool_paths() -> list[pathlib.Path]:
    """The repo tools outside the package: ``bench.py``,
    ``__spark_entry__.py``, ``deploy/`` and the non-test ``perfbench/``
    files."""
    repo = pathlib.Path(pkg.__file__).parent.parent
    return [repo / "bench.py", repo / "__spark_entry__.py", *sorted((repo / "deploy").glob("*.py")),
            *(p for p in sorted((repo / "perfbench").glob("*.py")) if not p.name.startswith("test_"))]


def _reexport(path: pathlib.Path, st: ast.stmt) -> bool:
    """A package ``__init__`` import or ``__all__`` assignment: it names a
    def without running it, so it is no use of that def."""
    return path.name == "__init__.py" and (
        isinstance(st, (ast.Import, ast.ImportFrom))
        or isinstance(st, ast.Assign) and any(getattr(t, "id", "") == "__all__" for t in st.targets)
    )


def _package_graph():
    """``(sites, edges, roots)``: ``sites`` maps each top-level def name to
    its ``(path, line)`` sites, ``edges`` to the def names its bodies use;
    ``roots`` holds the names reached before any def body is read
    (registered queries, module-level code other than re-exports, session
    and CLI defs, and every name the repo tools use)."""
    root = pathlib.Path(pkg.__file__).parent
    nodes: dict[str, list[ast.AST]] = {}
    sites: dict[str, list[tuple[pathlib.Path, int]]] = {}
    roots: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        for st in _module_level(ast.parse(path.read_text()).body):
            if not isinstance(st, _DEFS):
                if not _reexport(path, st):
                    roots |= _names(st)
                continue
            nodes.setdefault(st.name, []).append(st)
            sites.setdefault(st.name, []).append((rel, st.lineno))
            for decorator in st.decorator_list:  # runs at import
                roots |= _names(decorator)
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", getattr(d.func, "attr", "")) == "register"
                for d in st.decorator_list
            )
            if registered or str(rel) in ("session.py", "__main__.py"):
                roots.add(st.name)
    for path in _tool_paths():
        roots |= _names(ast.parse(path.read_text()))
    edges = {name: set().union(*map(_names, defs)) & sites.keys() for name, defs in nodes.items()}
    return sites, edges, roots


def _reach(edges: dict[str, set[str]], roots: set[str]) -> set[str]:
    reached, todo = set(), [n for n in roots if n in edges]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += edges[name]
    return reached


def test_every_package_def_is_reached():
    """Guard: every top-level package def is reached from a registered
    query, module-level code (a package ``__init__``'s re-exports do not
    count), ``session.py``/``__main__.py``, a repo tool
    (``bench.py``, ``__spark_entry__.py``, ``deploy/``, ``perfbench/``) or
    ``UNREACHED_ALLOWED``, through defs whose bodies name it. Matching is
    by bare name, so it errs towards "reached" and needs no import
    resolution. A def only tests call is a second implementation of a
    capability, or code no query runs: delete it."""
    sites, edges, roots = _package_graph()
    allowed = {key.rpartition(".")[2] for key in UNREACHED_ALLOWED}
    reached = _reach(edges, roots | allowed)
    unreached = sorted(
        f"{rel}:{line} {name}" for name, at in sites.items() if name not in reached for rel, line in at
    )
    assert unreached == [], "defs no query or tool reaches:\n" + "\n".join(unreached)

    # every allowlist entry is still defined, still needs the allowlist,
    # is the test reference for a reached function, and is named by a test
    defined = {".".join(rel.with_suffix("").parts) + "." + name for name, at in sites.items() for rel, _ in at}
    without = _reach(edges, roots)
    test_refs = set().union(*(
        _names(ast.parse(p.read_text()), strings=False) for p in pathlib.Path(__file__).parent.glob("*.py")
    ))
    for key, reason in UNREACHED_ALLOWED.items():
        name = key.rpartition(".")[2]
        assert key in defined, f"{key}: no longer defined"
        assert name not in without, f"{key}: reached without the allowlist"
        assert reason.startswith("test reference for ") and reason.split()[-1] in without, f"{key}: {reason!r}"
        assert name in test_refs, f"{key}: no test names it"


# Defaulted parameters that non-test callers pass fewer than two distinct
# values, kept settable on purpose. Keyed ``module.def.param``
# (package-relative). A reason is the perfbench chain that passes it
# (``perfbench/`` cannot change with the engine) or a deployment setting.
# A value only a test sets is a module constant the test monkeypatches,
# never an entry here.
OPTION_ALLOWED = {
    "operators.components.dedup_survivors.iteration_shuffle_partitions": "perfbench: chains.near_dup_survivors",
    "__main__.main.argv": "deployment: the CLI's arguments",
    "session.get_session.extra_conf": "deployment: the caller's Spark conf",
    "session.get_local_session.app_name": "deployment: the Spark application name",
}


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str, ast.expr]]:
    """``(position, name, default)`` for each defaulted parameter of ``fn``;
    a keyword-only parameter has no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(first + i, p.arg, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))] + [
        (None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _passed(call: ast.Call, pos: int | None, name: str, default: ast.expr) -> str:
    """The source text ``call`` passes for a parameter. Leaving it out
    passes the default; a ``*args``/``**kwargs`` call passes a value no
    other call shares."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return f"<unpacked at {id(call)}>"
    value = next((k.value for k in call.keywords if k.arg == name), None)
    if value is None and pos is not None and pos < len(call.args):
        value = call.args[pos]
    return ast.unparse(default if value is None else value)


def _option_values() -> dict[str, tuple[str, set[str]]]:
    """``module.def.param`` -> (``path:line def.param``, the distinct values
    non-test callers pass) for every defaulted parameter of a top-level
    package function. Callers are the package and the repo tools; calls
    match by bare callee name, as the reachability guard's uses do."""
    root = pathlib.Path(pkg.__file__).parent
    defs: dict[str, list[tuple[pathlib.Path, ast.FunctionDef]]] = {}
    for path in sorted(root.rglob("*.py")):
        for st in _module_level(ast.parse(path.read_text()).body):
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(st.name, []).append((path.relative_to(root), st))
    calls: dict[str, list[ast.Call]] = {}
    for path in [*sorted(root.rglob("*.py")), *_tool_paths()]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and _callee(node) in defs:
                calls.setdefault(_callee(node), []).append(node)
    return {
        ".".join(rel.with_suffix("").parts) + f".{name}.{param}": (
            f"{rel}:{fn.lineno} {name}.{param}",
            {_passed(call, pos, param, default) for call in calls.get(name, [])},
        )
        for name, at in defs.items()
        for rel, fn in at
        for pos, param, default in _defaulted(fn)
    }


def test_every_option_is_set():
    """Guard: every defaulted parameter of a top-level package function is
    passed at least two distinct values by non-test callers (leaving it
    out passes its default), or is listed in ``OPTION_ALLOWED``. With one
    value in use the parameter is a constant: write the value in place.
    Values compare as source text, so the guard errs towards "set"."""
    options = _option_values()
    unset = sorted(site for key, (site, values) in options.items() if len(values) < 2 and key not in OPTION_ALLOWED)
    assert unset == [], "options non-test callers set to one value:\n" + "\n".join(unset)

    # every allowlist entry is still a defaulted parameter, still needs the
    # allowlist, and gives a reason other than a test
    for key, reason in OPTION_ALLOWED.items():
        assert key in options, f"{key}: no longer a defaulted parameter"
        assert len(options[key][1]) < 2, f"{key}: callers set it, drop the entry"
        assert reason.startswith(("perfbench:", "deployment:")), f"{key}: {reason!r}"


def test_coverage_cites_only_existing_code():
    """Guard: every backticked ``<package dir>/<module>[.py|.<name>]`` in
    COVERAGE.md names a package module that exists and, with ``.<name>``,
    a top-level def, class or assignment in it, so a deletion that leaves
    its COVERAGE claim behind fails here."""
    root = pathlib.Path(pkg.__file__).parent
    cite = re.compile(r"`((?:functions|operators|plans|sources|streaming)/\w+)(?:\.py|\.(\w+))?`")
    missing = []
    for lineno, line in enumerate(_COVERAGE.read_text().splitlines(), 1):
        for module, name in cite.findall(line):
            path = root / f"{module}.py"
            if not path.exists():
                missing.append(f"COVERAGE.md:{lineno} {module}")
                continue
            body = ast.parse(path.read_text()).body
            names = {st.name for st in body if isinstance(st, _DEFS)} | {
                t.id
                for st in body if isinstance(st, (ast.Assign, ast.AnnAssign))
                for t in (st.targets if isinstance(st, ast.Assign) else [st.target])
                if isinstance(t, ast.Name)
            }
            if name and name not in names:
                missing.append(f"COVERAGE.md:{lineno} {module}.{name}")
    assert missing == [], "COVERAGE.md cites code that does not exist:\n" + "\n".join(missing)


def test_rolling_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], ["t"])
    vals = [r["fp"] for r in df.select(rolling_fingerprint("t").alias("fp")).collect()]
    assert vals[0] == vals[1] != vals[2]
    # matches the python fold: ((0*31+97)*31+98)*31+99 mod p
    expected = ((97 * 31 + 98) * 31 + 99) % 1_000_000_007
    assert vals[0] == expected


def test_vector_functions(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [3.0, 2.0, 1.0])], ["a", "b"])
    row = df.select(
        dot("a", "b").alias("d"), cosine_similarity("a", "b").alias("c"),
        cosine_similarity("a", "a").alias("self"),
    ).collect()[0]
    assert row["d"] == pytest.approx(10.0)
    assert row["c"] == pytest.approx(10.0 / 14.0)
    assert row["self"] == pytest.approx(1.0)


def test_cosine_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], ["a", "b"])
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"] is None


def test_multimodal_features_deterministic_and_partition_invariant(spark, docs):
    payloads = attach_binary_payload(docs, "doc_id", "text")
    one = extract_features(payloads.coalesce(1)).orderBy("doc_id").collect()
    many = extract_features(payloads.repartition(4)).orderBy("doc_id").collect()
    assert one == many  # batch-shape independence
    byid = {r["doc_id"]: r for r in one}
    assert byid[1]["feature"] == byid[2]["feature"]  # same payload -> same feature
    assert len(byid[1]["feature"]) == 8
    assert byid[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert all(0.0 <= x <= 1.0 for x in byid[1]["feature"])


def test_multimodal_frame_sampling(spark, docs):
    from similarity_analysis_big_data_spark.operators.multimodal import sample_frames

    payloads = attach_binary_payload(docs, "doc_id", "text")

    # frame sampling expands rows: every 4th 16-byte chunk, frame_idx stamped
    one = sample_frames(payloads.coalesce(1)).orderBy("doc_id", "frame_idx").collect()
    many = sample_frames(payloads.repartition(4)).orderBy("doc_id", "frame_idx").collect()
    assert one == many  # partition invariance
    frames_1 = [r for r in one if r["doc_id"] == 1]
    text_len = len("the quick brown fox jumps over the lazy dog")
    import math
    n_chunks = math.ceil(text_len / 16)
    assert frames_1[0]["n_frames"] == n_chunks
    assert len(frames_1) == math.ceil(n_chunks / 4)
    assert [r["frame_idx"] for r in frames_1] == [i * 4 for i in range(len(frames_1))]
    # frames are real slices of the payload
    assert bytes(frames_1[0]["frame"]) == b"the quick brown "


def test_grouped_zscore_degenerate_groups(spark):
    """applyInPandas grouped-map: size-1 and zero-variance groups emit 0.0
    (no NaN leaks into a feature pipeline)."""
    from similarity_analysis_big_data_spark.operators.grouped import grouped_zscore

    df = spark.createDataFrame(
        [("solo", 5.0), ("flat", 2.0), ("flat", 2.0), ("ok", 1.0), ("ok", 3.0)],
        "grp string, x double",
    )
    rows = {(r["grp"], r["x"]): r["zscore"] for r in grouped_zscore(df, ["grp"], "x").collect()}
    assert rows[("solo", 5.0)] == 0.0
    assert rows[("flat", 2.0)] == 0.0
    import math

    assert math.isclose(abs(rows[("ok", 1.0)]), 0.7071067811865475, rel_tol=1e-12)


def test_udtf_sentence_segments_matches_explode_form(spark):
    """Python UDTF (Spark 4): lateral sentence segmentation agrees with the
    equivalent explode+split Catalyst composition on every row."""
    from similarity_analysis_big_data_spark.functions.udtf_ops import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "One two. Three!  Four five six? "), (2, "..."), (3, None), (4, "Solo")],
        "id long, text string",
    )
    df.createOrReplaceTempView("udtf_docs")
    got = {
        (r["id"], r["sentence_idx"]): (r["sentence"], r["n_tokens"])
        for r in spark.sql(
            "SELECT d.id, s.* FROM udtf_docs d, LATERAL sentence_segments(d.text) s"
        ).collect()
    }
    assert got == {
        (1, 0): ("One two", 2),
        (1, 1): ("Three", 1),
        (1, 2): ("Four five six", 3),
        (4, 0): ("Solo", 1),
    }


def test_dense_best_match_zero_overlap_and_ties(spark):
    """dense_best_match edge semantics must mirror the sparse join: a query
    sharing no term with any candidate yields NO row (caller restores it),
    and score ties break on the smallest match id."""
    from similarity_analysis_big_data_spark.operators.similarity import (
        best_match,
        dense_best_match,
        sparse_cosine_join,
    )

    titles = spark.createDataFrame(
        # t1 overlaps a1/a2 equally (tie); t2 overlaps nothing
        [(1, "x", 1.0), (2, "zz", 1.0)],
        "title_id long, term string, weight double",
    )
    abstracts = spark.createDataFrame(
        [(10, "x", 0.5), (11, "x", 0.5), (12, "y", 1.0)],
        "abstract_id long, term string, weight double",
    )
    dense = dense_best_match(titles, abstracts, "title_id", "abstract_id", titles.collect()).collect()
    got = {r["title_id"]: (r["abstract_id"], r["cosine"]) for r in dense}
    assert set(got) == {1}  # t2 dropped (zero overlap)
    assert got[1] == (10, 0.5)  # tie between 10 and 11 -> smallest id
    # and the sparse formulation agrees exactly
    sparse = best_match(
        sparse_cosine_join(titles, abstracts, "title_id", "abstract_id", round_to=9),
        "title_id",
        "abstract_id",
    ).collect()
    sgot = {r["title_id"]: (r["abstract_id"], r["cosine"]) for r in sparse}
    assert sgot == got


def test_dense_best_match_overbound_falls_back_to_sparse(spark, monkeypatch):
    """ADVICE r11 guard: when the ACTUAL collected title matrix violates the
    broadcast bounds (stale memo / forced-dense caller), dense_best_match
    must degrade to the exact sparse formulation — same rows — instead of
    over-broadcasting."""
    from similarity_analysis_big_data_spark.operators import similarity as ops

    titles = spark.createDataFrame(
        [(1, "x", 1.0), (2, "zz", 1.0)],
        "title_id long, term string, weight double",
    )
    abstracts = spark.createDataFrame(
        [(10, "x", 0.5), (11, "x", 0.5), (12, "y", 1.0)],
        "abstract_id long, term string, weight double",
    )
    expected = {
        r["title_id"]: (r["abstract_id"], r["cosine"])
        for r in ops.dense_best_match(titles, abstracts, "title_id", "abstract_id", titles.collect()).collect()
    }
    monkeypatch.setattr(ops, "DENSE_MAX_VOCAB", 0)
    got = {
        r["title_id"]: (r["abstract_id"], r["cosine"])
        for r in ops.dense_best_match(titles, abstracts, "title_id", "abstract_id", titles.collect()).collect()
    }
    assert got == expected


def test_dense_best_match_blocked_equals_one_shot(spark, monkeypatch):
    """The r12 bounded-memory block loop (DENSE_BLOCK_CELLS caps the
    (rows x |Q|) score allocation per task) must be invisible in the
    result: forcing single-row blocks — every cross-chunk merge path,
    including ties straddling chunk boundaries and zero-overlap masking —
    yields exactly the one-shot rows."""
    from similarity_analysis_big_data_spark.operators import similarity as ops

    titles = spark.createDataFrame(
        # q1: tie between candidates in DIFFERENT chunks (10 and 13);
        # q2: matched only late in the id order; q3: zero overlap
        [(1, "x", 1.0), (2, "y", 1.0), (3, "zz", 1.0)],
        "title_id long, term string, weight double",
    )
    abstracts = spark.createDataFrame(
        [(10, "x", 0.5), (11, "w", 1.0), (12, "y", 0.25),
         (13, "x", 0.5), (14, "y", 0.75)],
        "abstract_id long, term string, weight double",
    )

    def rows(df):
        return {r["title_id"]: (r["abstract_id"], r["cosine"]) for r in df.collect()}

    one_shot = rows(ops.dense_best_match(titles, abstracts, "title_id", "abstract_id", titles.collect()))
    monkeypatch.setattr(ops, "DENSE_BLOCK_CELLS", 1)  # 1 cell -> 1-row blocks
    blocked = rows(ops.dense_best_match(titles, abstracts, "title_id", "abstract_id", titles.collect()))
    assert blocked == one_shot
    assert blocked[1] == (10, 0.5)  # cross-chunk tie -> smallest id
    assert blocked[2] == (14, 0.75)  # later chunk wins on strictly-greater
    assert 3 not in blocked  # zero overlap stays masked out


def test_pca_matches_driver_numpy(spark):
    """The distributed sufficient-stats PCA equals a driver-side numpy PCA
    on the collected corpus: covariance bit-close, components orthonormal,
    explained variance descending, projections equal after the shared
    sign-pinning convention."""
    import numpy as np

    from similarity_analysis_big_data_spark.operators.linalg import (
        covariance_from_stats,
        embedding_sufficient_stats,
        pca_components,
        project_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n, s, S = embedding_sufficient_stats(emb, "embedding", 64)
    cov, mu = covariance_from_stats(n, s, S)

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    assert n == len(X)
    ref_cov = np.cov(X, rowvar=False, ddof=1)
    np.testing.assert_allclose(cov, ref_cov, atol=1e-9)

    vals, comp = pca_components(cov, 8)
    # orthonormal basis, descending explained variance
    np.testing.assert_allclose(comp.T @ comp, np.eye(8), atol=1e-10)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(7))
    # the top-8 eigenvalues match numpy's full spectrum head
    ref_vals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1][:8]
    np.testing.assert_allclose(vals, ref_vals, atol=1e-9)

    got = {
        r["vec_id"]: np.asarray(r["projection"])
        for r in project_embeddings(emb, "vec_id", "embedding", mu, comp).collect()
    }
    ref_proj = np.round((X - X.mean(axis=0)) @ comp, 6)
    for i, r in enumerate(rows):
        np.testing.assert_allclose(got[r["vec_id"]], ref_proj[i], atol=1e-6)


def test_pca_projection_partition_invariant(spark):
    """Repartitioning must not change the projection (partials combine
    exactly; eigh input is identical)."""
    from similarity_analysis_big_data_spark.plans.datapipe import pca_project_embeddings
    import similarity_analysis_big_data_spark.plans.datapipe as dp

    a = {
        (r["vec_id"], r["pc"], r["value"])
        for r in pca_project_embeddings(spark, "/root/testdata/sf0.001").collect()
    }
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").repartition(13)
    from similarity_analysis_big_data_spark.operators.linalg import (
        covariance_from_stats,
        embedding_sufficient_stats,
        pca_components,
        project_embeddings,
    )

    n, s, S = embedding_sufficient_stats(emb, "embedding", dp.EMB_DIM)
    cov, mu = covariance_from_stats(n, s, S)
    _vals, comp = pca_components(cov, dp.PCA_K)
    b = {
        (r["vec_id"], pc, v)
        for r in project_embeddings(emb, "vec_id", "embedding", mu, comp).collect()
        for pc, v in enumerate(r["projection"])
    }
    assert a == b


def test_stable_dense_ids_skewed_coarse_key(spark):
    """Degenerate coarse key (ALL rows equal -> every percentile boundary
    collapses to one bucket) must still produce the exact dense order by
    the tiebreak; and a two-value key exercises the equal-values-straddle
    boundary rule (equal keys always share a bucket)."""
    from similarity_analysis_big_data_spark.operators.reindex import stable_dense_ids

    rows = [(i, 7 if i % 3 else 3) for i in range(97)]
    df = spark.createDataFrame(rows, "rid long, k long").repartition(11)
    got = stable_dense_ids(df, "k", "rid").collect()
    want = sorted(rows, key=lambda r: (r[1], r[0]))
    by_rid = {r["rid"]: r["new_id"] for r in got}
    assert len(by_rid) == 97
    for new_id, (rid, _k) in enumerate(want):
        assert by_rid[rid] == new_id


def test_trained_pq_beats_seed_codebooks(spark):
    """Lloyd's-trained codebooks must not lose to the raw seed subvectors:
    mean recall@k (vs exact brute force) strictly improves on the sf0.01
    fixture (0.14 seed vs 0.24 trained when written — assert the ordering,
    not the point values)."""
    from similarity_analysis_big_data_spark.plans.ann import (
        ann_pq_recall_at_k,
        ann_pq_trained_recall_at_k,
    )

    sf = "/root/testdata/sf0.01"
    seed = [r["recall_at_k"] for r in ann_pq_recall_at_k(spark, sf).collect()]
    trained = [
        r["recall_at_k"] for r in ann_pq_trained_recall_at_k(spark, sf).collect()
    ]
    assert len(seed) == len(trained) > 0
    assert sum(trained) / len(trained) > sum(seed) / len(seed)


def test_polymorphic_udtf_analyze_schema(spark):
    """Spark 4 UDTF static analysis: the output schema is computed from a
    constant argument at analysis time (tok0..tokN-1 typed columns), and
    values match a driver-side reference split."""
    from similarity_analysis_big_data_spark.functions.udtf_ops import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two"), (3, "")],
        "id long, text string",
    )
    df.createOrReplaceTempView("poly_docs")
    out = spark.sql(
        "SELECT d.id, s.* FROM poly_docs d, LATERAL split_to_columns(d.text, 3) s"
    )
    assert out.columns == ["id", "tok0", "tok1", "tok2", "n_found"]
    rows = {r["id"]: (r["tok0"], r["tok1"], r["tok2"], r["n_found"]) for r in out.collect()}
    assert rows[1] == ("alpha", "beta", "gamma", 3)
    assert rows[2] == ("one", "two", None, 2)
    assert rows[3] == (None, None, None, 0)


def test_apply_in_arrow_matches_builtin_agg(spark):
    """groupBy().applyInArrow (the zero-pandas grouped-map surface): a
    per-group Arrow-table normalization matches the Catalyst window
    formulation exactly."""
    import pyarrow as pa

    from similarity_analysis_big_data_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("n_chars")
    )

    def center(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        mean = pc.mean(table.column("n_chars"))
        centered = pc.subtract(table.column("n_chars"), mean)
        return pa.table(
            {
                "doc_id": table.column("doc_id"),
                "lang": table.column("lang"),
                "centered": centered,
            }
        )

    got = {
        (r["doc_id"]): round(r["centered"], 9)
        for r in docs.groupBy("lang")
        .applyInArrow(center, schema="doc_id long, lang string, centered double")
        .collect()
    }
    from pyspark.sql import Window as W

    want = {
        r["doc_id"]: round(r["centered"], 9)
        for r in docs.withColumn(
            "centered", F.col("n_chars") - F.avg("n_chars").over(W.partitionBy("lang"))
        ).collect()
    }
    assert got == want


def test_hll_sketch_estimates_and_merge(spark):
    """DataSketches HLL: per-type estimates within 5% of exact distinct
    counts, and the UNION-merged sketch estimates the global distinct —
    the mergeability property that makes sketches incremental."""
    from similarity_analysis_big_data_spark.plans.datapipe import hll_sketch_merge_users
    from similarity_analysis_big_data_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    rows = hll_sketch_merge_users(spark, sf).collect()
    got_exact = {r["event_type"]: r["exact_users"] for r in rows}
    in_bound = {r["event_type"]: r["estimate_within_5pct"] for r in rows}
    ev = load_table(spark, sf, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert got_exact == exact
    # the query now audits the sketch in-line: per-type sketches AND the
    # union-merged global sketch must sit inside the 3-sigma bound
    assert all(in_bound.values()), in_bound


@pytest.mark.parametrize(
    "threshold",
    [None, (1, 2), (1, 3), (4, 5)],
    ids=lambda t: "none" if t is None else f"{t[0]}_{t[1]}",
)
def test_jaccard_threshold_prefilter_equals_postfilter(docs, threshold):
    """The candidate-driven verify (one overlap kernel, fanned out by each
    pair's smaller side, behind the optional exact size-ratio prefilter)
    against the independent all-pairs self-join restricted to the
    candidates — LSH-then-verify correctness at the operator level. At or
    above the threshold every pair and its exact jaccard value are
    identical; pairs below it may only ever be dropped, never altered or
    invented. Without a threshold nothing is dropped."""
    shingles = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.lower("text")))).alias("shingle"),
    )
    spark = docs.sparkSession
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    # every ordered pair — includes size-ratio violators and zero-overlap
    # pairs, both directions of the (smaller, larger) probe swap — plus
    # duplicate candidate rows, which must not multiply n_common
    pairs = [(a, b) for a in ids for b in ids if a != b]
    cands = spark.createDataFrame(pairs + pairs[:5], "id_l long, id_r long")
    full = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in jaccard_pairs(shingles, "doc_id").collect()
    }
    reference = {
        (a, b): full[(min(a, b), max(a, b))]
        for a, b in pairs
        if (min(a, b), max(a, b)) in full
    }
    got = {}
    for r in jaccard_pairs(
        shingles, "doc_id", candidates=cands, threshold=threshold
    ).collect():
        assert (r["id_l"], r["id_r"]) not in got  # one row per candidate
        got[(r["id_l"], r["id_r"])] = r["jaccard"]
    t = 0.0 if threshold is None else threshold[0] / threshold[1]
    above = {k: v for k, v in reference.items() if v >= t}
    kept_above = {k: v for k, v in got.items() if v >= t}
    assert kept_above == pytest.approx(above)
    # anything the prefilter kept below t must carry the exact value
    for k, v in got.items():
        assert v == pytest.approx(reference[k])


def test_near_dup_pairs_equals_reference(docs):
    """near_dup_pairs is the all-pairs exact Jaccard >= 1/2 restricted to
    the LSH candidates of the same token sets — pairs and values."""
    shingles = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.lower("text")))).alias("shingle"),
    )
    cands = {
        (r["id_l"], r["id_r"])
        for r in lsh_candidate_pairs(
            minhash_signatures(shingles, "doc_id"), "doc_id"
        ).collect()
    }
    expected = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in jaccard_pairs(shingles, "doc_id").filter(F.col("jaccard") >= 0.5).collect()
        if (r["id_l"], r["id_r"]) in cands
    }
    pairs = near_dup_pairs(docs)
    assert pairs.columns == ["id_l", "id_r", "jaccard"]
    got = {(r["id_l"], r["id_r"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in expected and (1, 3) in expected
    assert got == pytest.approx(expected)


@pytest.mark.parametrize("case", ["empty", "single", "all_duplicate"])
def test_near_dup_pairs_degenerate_inputs(spark, case):
    """Degenerate corpora return the declared edge result: no pairs for an
    empty table or one document; every pair at 1.0 and ONE component (a
    single survivor) for an all-duplicate corpus."""
    from similarity_analysis_big_data_spark.operators.components import dedup_survivors

    text = "the quick brown fox jumps over the lazy dog"
    ids = {"empty": [], "single": [1], "all_duplicate": list(range(1, 7))}[case]
    docs = spark.createDataFrame([(i, text) for i in ids], "doc_id long, text string")
    pairs = near_dup_pairs(docs)
    got = {(r["id_l"], r["id_r"]): r["jaccard"] for r in pairs.collect()}
    assert got == {(a, b): 1.0 for a in ids for b in ids if a < b}
    survivors = {r["doc_id"] for r in dedup_survivors(docs, pairs, "doc_id").collect()}
    assert survivors == set(ids[:1])


# ---- operators/rank.py: direct equivalence properties -----------------------


def _rank_fixture(spark, seed=7):
    import random

    rnd = random.Random(seed)
    rows = [
        (i, rnd.choice("abc"), rnd.randint(0, 40), rnd.randint(1, 9))
        for i in range(500)
    ]
    # heavy tie block: one value repeated across many rows (bucket-skew case)
    rows += [(1000 + i, "a", 17, 2) for i in range(60)]
    return spark.createDataFrame(rows, "id long, grp string, k long, v long")


def test_bucketed_row_number_equals_window_row_number(spark):
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
    )

    cols = ["id", "grp", "k", "v", "r", "n"]
    df = _rank_fixture(spark)
    got = bucketed_row_number(df, "k", ["id"], rank_name="r", n_name="n").select(cols)
    exp = df.withColumn("r", F.row_number().over(W.orderBy("k", "id"))).withColumn(
        "n", F.count("*").over(W.partitionBy())
    ).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    got_g = bucketed_row_number(
        df, "k", ["id"], rank_name="r", n_name="n", partition_cols=("grp",)
    ).select(cols)
    w = W.partitionBy("grp")
    exp_g = df.withColumn(
        "r", F.row_number().over(w.orderBy("k", "id"))
    ).withColumn("n", F.count("*").over(w)).select(cols)
    assert got_g.exceptAll(exp_g).count() == 0
    assert exp_g.exceptAll(got_g).count() == 0


@pytest.mark.parametrize("k", [1, 2, 4, 7, 100, 560])
def test_ntile_from_rank_equals_window_ntile(spark, k):
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
        ntile_from_rank,
    )

    df = _rank_fixture(spark)
    ranked = bucketed_row_number(df, "k", ["id"], rank_name="r", n_name="n")
    got = ranked.select(
        "id", ntile_from_rank(F.col("r"), F.col("n"), k).alias("t")
    )
    exp = df.select(
        "id", F.ntile(k).over(W.orderBy("k", "id")).cast("long").alias("t")
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def _running(col):
    """The global-window running ``col`` aggregate of the rank fixture."""
    from pyspark.sql import Window as W

    return col.over(W.orderBy("k", "id").rowsBetween(W.unboundedPreceding, W.currentRow))


def _k_bucket():
    """A bucket id monotone in the rank fixture's key, as
    bucketed_running_max takes."""
    return F.floor(F.col("k") / 8)


def test_bucketed_running_sum_equals_window_running_sum(spark):
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_running_sum,
    )

    cols = ["id", "grp", "k", "v", "cum_units"]
    df = _rank_fixture(spark)
    got = bucketed_running_sum(df, "k", ["id"], "v").select(cols)
    exp = df.withColumn("cum_units", _running(F.sum("v"))).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_bucketed_running_sum_double_values(spark):
    """ADVICE r4: double-typed value column — the offset seed must be a
    float zero or createDataFrame rejects it for DoubleType."""
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_running_sum,
    )

    df = _rank_fixture(spark).withColumn("v", (F.col("v") + F.lit(0.25)).cast("double"))
    cols = ["id", "grp", "k", "v", "cum_units"]
    got = bucketed_running_sum(df, "k", ["id"], "v").select(cols)
    exp = df.withColumn("cum_units", _running(F.sum("v"))).select(cols)
    # float running sums: compare rounded (bucket subtotal order vs scan
    # order can differ in the last ulp — documented in the docstring)
    g = got.withColumn("cum_units", F.round("cum_units", 6))
    e = exp.withColumn("cum_units", F.round("cum_units", 6))
    assert g.exceptAll(e).count() == 0 and e.exceptAll(g).count() == 0


def test_bucketed_rank_invariant_to_boundary_choice(spark):
    """Boundaries only load-balance: ranks under exact-percentile bounds,
    approx bounds (default), and a deliberately awful single boundary all
    agree row-for-row."""
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
        percentile_bounds,
    )

    df = _rank_fixture(spark)
    exact = [
        float(b)
        for b in df.agg(
            F.expr(
                "percentile(cast(k as double), array("
                + ", ".join(str(i / 32) for i in range(1, 32))
                + "))"
            ).alias("bs")
        ).collect()[0]["bs"]
    ]
    approx = percentile_bounds(df, "k", 32)
    runs = [
        bucketed_row_number(df, "k", ["id"], rank_name="r", bounds=b)
        .select("id", "r")
        for b in (sorted(set(exact)), approx, [17.0], [])
    ]
    base = runs[0]
    for other in runs[1:]:
        assert base.exceptAll(other).count() == 0
        assert other.exceptAll(base).count() == 0


def test_percentile_bounds_empty_input(spark):
    """ADVICE r4: empty relation → [] (single-bucket degenerate), and the
    bucketed operators still run on zero rows."""
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
        percentile_bounds,
    )

    empty = spark.createDataFrame([], "id long, grp string, k long, v long")
    assert percentile_bounds(empty, "k", 32) == []
    out = bucketed_row_number(empty, "k", ["id"], rank_name="r", n_name="n")
    assert out.count() == 0


def test_bucketed_running_max_equals_window_running_max(spark):
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_running_max,
    )

    cols = ["id", "grp", "k", "v", "run_max"]
    df = _rank_fixture(spark)
    got = bucketed_running_max(df, "k", ["id"], "v", _k_bucket()).select(cols)
    exp = df.withColumn("run_max", _running(F.max("v"))).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_bucketed_rank_family_keeps_null_partition_groups(spark):
    """A NULL partition value is a real group under groupBy, and the
    window form keeps its rows — the offset join back must be null-safe
    or those rows silently vanish (ADVICE r5: rank.py offset joins)."""
    from pyspark.sql import Window as W

    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_row_number,
    )

    df = _rank_fixture(spark).withColumn(
        "grp", F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(F.col("grp"))
    )
    cols = ["id", "grp", "k", "v", "out"]
    got_rn = bucketed_row_number(
        df, "k", ["id"], rank_name="out", partition_cols=("grp",)
    ).select(cols)
    assert got_rn.count() == df.count()  # NULL-group rows survive
    exp_rn = df.withColumn(
        "out", F.row_number().over(W.partitionBy("grp").orderBy("k", "id"))
    ).select(cols)
    assert got_rn.exceptAll(exp_rn).count() == 0
    assert exp_rn.exceptAll(got_rn).count() == 0


def test_bucketed_running_max_with_null_values(spark):
    """All-NULL buckets must not clobber or crash the carried prefix max
    (max aggregates NULL for them); matches the window form row-for-row."""
    from similarity_analysis_big_data_spark.operators.rank import (
        bucketed_running_max,
    )

    df = _rank_fixture(spark).withColumn(
        "v", F.when(F.col("k") % 3 == 0, F.col("v")).otherwise(F.lit(None))
    )
    cols = ["id", "grp", "k", "v", "run_max"]
    got = bucketed_running_max(df, "k", ["id"], "v", _k_bucket()).select(cols)
    exp = df.withColumn("run_max", _running(F.max("v"))).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_perceptual_dhash_known_bitmaps_and_partition_invariance(spark):
    from similarity_analysis_big_data_spark.operators.multimodal import (
        perceptual_dhash,
    )

    # Strictly increasing rows -> every px[r][c] > px[r][c+1] is False -> 0.
    flat = bytes(range(64))
    # Strictly decreasing rows -> all 56 comparison bits set.
    desc = bytes(b for r in range(8) for b in range(63 - 8 * r, 55 - 8 * r, -1))
    df = spark.createDataFrame(
        [(0, bytearray(flat)), (1, bytearray(desc)), (2, bytearray(flat))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["phash"] for r in perceptual_dhash(df).collect()}
    assert rows[0] == 0
    assert rows[1] == (1 << 56) - 1
    assert rows[2] == rows[0]  # same payload -> same hash

    many = {
        r["doc_id"]: r["phash"]
        for r in perceptual_dhash(df.repartition(3)).collect()
    }
    assert many == rows  # batch-shape independence


def test_multimodal_workers_null_payload_in_null_out(spark):
    """A NULL payload gives a NULL feature row, a NULL phash and no frames;
    the non-NULL row beside it is unaffected."""
    from similarity_analysis_big_data_spark.operators.multimodal import (
        perceptual_dhash,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(0, None), (1, bytearray(range(64)))], "doc_id long, payload binary"
    )
    feats = {r["doc_id"]: r for r in extract_features(df).collect()}
    assert (feats[0]["n_bytes"], feats[0]["header"], feats[0]["feature"]) == (None, None, None)
    assert feats[1]["n_bytes"] == 64
    assert {r["doc_id"]: r["phash"] for r in perceptual_dhash(df).collect()} == {0: None, 1: 0}
    assert {r["doc_id"] for r in sample_frames(df).collect()} == {1}


def test_perceptual_dhash_rejects_non_bitmap_payloads(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from similarity_analysis_big_data_spark.operators.multimodal import (
        perceptual_dhash,
    )

    bad = spark.createDataFrame(
        [(0, bytearray(b"short"))], "doc_id long, payload binary"
    )
    with pytest.raises((PythonException, Py4JJavaError)):
        perceptual_dhash(bad).collect()


def test_image_near_dup_variant_within_hamming_two(spark, sf_smoke):
    """The planted construction's contract: every non-canonical variant is
    within Hamming distance 2 of its group's canonical image (one pixel
    touches at most two horizontal dHash comparisons)."""
    from similarity_analysis_big_data_spark.operators.multimodal import (
        perceptual_dhash,
    )
    from similarity_analysis_big_data_spark.plans.multimodal import synthetic_images

    sig = perceptual_dhash(synthetic_images(spark, sf_smoke))
    by_id = {r["doc_id"]: r["phash"] for r in sig.collect()}
    for doc_id, ph in by_id.items():
        canon = (doc_id // 8) * 8
        if doc_id == canon or canon not in by_id:
            continue
        assert bin(ph ^ by_id[canon]).count("1") <= 2


def test_video_near_dup_every_sampled_frame_within_hamming_two(spark, sf_smoke):
    """The video construction's contract: EVERY sampled frame of a variant
    sits within Hamming 2 of the canonical video's same-index frame (the
    one-pixel-per-frame perturbation touches at most two horizontal dHash
    comparisons) — so the any-frame pairing can't ride a hamming-0
    untouched frame; each planted pair exercises the tolerance."""
    from similarity_analysis_big_data_spark.operators.multimodal import (
        perceptual_dhash,
        sample_frames,
    )
    from similarity_analysis_big_data_spark.plans.multimodal import (
        _VID_EVERY_N,
        _VID_FRAMES,
        synthetic_videos,
    )

    frames = sample_frames(
        synthetic_videos(spark, sf_smoke), frame_bytes=64, every_n=_VID_EVERY_N
    )
    sig = perceptual_dhash(
        frames.selectExpr(
            f"doc_id * {_VID_FRAMES} + frame_idx AS doc_id", "frame AS payload"
        )
    )
    by_fid = {r["doc_id"]: r["phash"] for r in sig.collect()}
    sampled = range(0, _VID_FRAMES, _VID_EVERY_N)
    checked = 0
    for fid, ph in by_fid.items():
        doc_id, fidx = divmod(fid, _VID_FRAMES)
        canon = (doc_id // 8) * 8
        canon_fid = canon * _VID_FRAMES + fidx
        if doc_id == canon or canon_fid not in by_fid:
            continue
        assert fidx in sampled
        # the spliced byte may coincide with the original or flip no
        # comparison sign, so 0 is legal; >2 never is
        d = bin(ph ^ by_fid[canon_fid]).count("1")
        assert d <= 2, f"frame {fidx} of {doc_id}: hamming {d}"
        checked += 1
    assert checked > 0


def test_audio_alignment_recovers_planted_shift_structure(spark, sf_smoke):
    """The constellation contract: every intra-group clip pair must align
    at exactly the planted offset s_r - s_l with 6 - |offset| agreeing
    windows (clips are 6-window slices of the group's master track at
    shifts (doc_id % 8) % 3), and no cross-group pair may survive the
    >= 3 consistent-offset vote."""
    from similarity_analysis_big_data_spark.plans.multimodal import (
        audio_fingerprint_align_pairs,
    )

    rows = audio_fingerprint_align_pairs(spark, sf_smoke).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["id_l"] // 8 == r["id_r"] // 8, "cross-group pair survived the vote"
        s_l, s_r = (r["id_l"] % 8) % 3, (r["id_r"] % 8) % 3
        assert r["t_offset"] == s_r - s_l
        assert r["n_aligned"] == 6 - abs(r["t_offset"])
        seen.add((r["id_l"], r["id_r"]))
    # completeness: every intra-group ordered pair in the FIXTURE must be
    # present (all overlaps are >= 4 >= the vote threshold)
    from similarity_analysis_big_data_spark.sources.readers import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_smoke, "documents").select("doc_id").collect()
    ]
    by_g = {}
    for i in ids:
        by_g.setdefault(i // 8, []).append(i)
    expected = {
        (a, b)
        for members in by_g.values()
        for a in members
        for b in members
        if a < b
    }
    assert seen == expected


def test_audio_spectral_window_hash_pins_known_value(spark, sf_smoke):
    """Pin the full synth -> integer-DCT -> dHash chain for one master
    window against an independent pure-Python reference (fresh basis from
    the cos formula, plain-int waveform/spectrum/byte/bit math). Any
    drift in the seeded tone recipe, the DCT basis, the uint16 encoding
    or the dHash bit order breaks this before the oracle would."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from similarity_analysis_big_data_spark.operators.multimodal import (
        audio_spectral_frames,
        perceptual_dhash,
        sample_frames,
    )
    from similarity_analysis_big_data_spark.plans.multimodal import (
        synthetic_audio_clips,
    )

    N = 32
    C = [
        [round(64 * math.cos(math.pi * (2 * n + 1) * k / (2 * N))) for n in range(N)]
        for k in range(N)
    ]

    def expected_phash(g: int, wm: int) -> int:
        h1 = hashlib.md5(f"aud:{g}:{wm}".encode()).hexdigest()
        h2 = hashlib.md5(f"aud-noise:{g}:{wm}".encode()).hexdigest()
        b = [int(h1[2 * i : 2 * i + 2], 16) for i in range(6)]
        k1, k2, k3 = 1 + b[0] % 10, 11 + b[1] % 10, 21 + b[2] % 10
        a1, a2, a3 = 1 + b[3] % 4, 1 + b[4] % 4, 1 + b[5] % 4
        x = [
            a1 * C[k1][n] + a2 * C[k2][n] + a3 * C[k3][n] + (int(h2[n], 16) % 5 - 2)
            for n in range(N)
        ]
        s = [sum(x[n] * C[k][n] for n in range(N)) for k in range(N)]
        u = [(v + (1 << 21)) >> 7 for v in s]
        by = [(u[j // 2] >> 8) if j % 2 == 0 else (u[j // 2] % 256) for j in range(64)]
        return sum(
            1 << (r * 7 + c)
            for r in range(8)
            for c in range(7)
            if by[r * 8 + c] > by[r * 8 + c + 1]
        )

    clip = synthetic_audio_clips(spark, sf_smoke).filter(F.col("doc_id") == 0)
    frames = sample_frames(clip, frame_bytes=64, every_n=1)
    sig = perceptual_dhash(
        audio_spectral_frames(frames)
        .filter(F.col("frame_idx") == 0)
        .select("doc_id", F.col("frame").alias("payload"))
    ).collect()
    assert len(sig) == 1
    # doc_id 0 -> group 0, shift 0, so window f=0 is master window (0, 0)
    assert sig[0]["phash"] == expected_phash(0, 0)
