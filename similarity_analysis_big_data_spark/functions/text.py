"""Text preprocessing as Catalyst column expressions (SURVEY.md §2.8, §2.9).

The reference's preprocessing is a mix of DataFrame functions
(``lab2.py:70-91``), ML transformers (``lab2.py:77-85``) and Python
``re.split`` inside RDD lambdas (``lab2.py:159,198,267``). Here the whole
surface is pure column expressions — JVM-side, codegen'd, no Python
crossing — with the reference's quirks reproducible behind explicit flags.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's cleanup regex (lab2.py:72-73): digits and non-word chars
# collapse to a single space. Python's re treats \w as Unicode-aware
# (``naïve`` is one word); Java regex defaults to ASCII, so the engine adds
# the (?U) UNICODE_CHARACTER_CLASS flag for parity (FIXTURES.md §C).
CLEANUP_PATTERN = r"(?U)(\d|\W)+"
# The reference's tokenizer split pattern (lab2.py:159): non-word runs.
TOKEN_SPLIT_PATTERN = r"(?U)[^\w]+"
# Sentence boundaries: runs of terminal punctuation (both engines).
SENTENCE_SPLIT_PATTERN = r"[.!?]+"


def normalize_text(col: Column | str) -> Column:
    """F1+F2 (lab2.py:70-73): lowercase, collapse digits/punctuation to spaces."""
    return F.regexp_replace(F.lower(F.col(col) if isinstance(col, str) else col), CLEANUP_PATTERN, " ")


def clean_category(col: Column | str) -> Column:
    """lab2.py:89-91: lowercase + rtrim; the category stays an ATOMIC label
    (never split on internal whitespace — SURVEY §7 known-hard list)."""
    return F.rtrim(F.lower(F.col(col) if isinstance(col, str) else col))


def tokenize(col: Column | str, count_empty_tokens: bool = False) -> Column:
    """F4 (lab2.py:159): split on non-word runs -> array<string>.

    Python's ``re.split`` emits empty strings at leading/trailing
    separators — and the reference counts those empties as terms. The
    engine default drops them; ``count_empty_tokens=True`` is the bit-exact
    compat mode (SURVEY §7).
    """
    tokens = F.split(F.col(col) if isinstance(col, str) else col, TOKEN_SPLIT_PATTERN)
    if count_empty_tokens:
        return tokens
    return F.filter(tokens, lambda t: F.length(t) > 0)


def words(col: Column | str) -> Column:
    """The engine's word tokens: the lowercased text split on non-word
    runs, empty strings dropped (NULL text -> NULL array). Every text
    family (TF-IDF, MinHash/LSH dedup, text and LM statistics) builds on
    this one rule; ``words_sql`` is its DuckDB rendering.

    ORACLE-PARITY PRECONDITION: (?U)\\w here is Unicode-aware while the
    DuckDB side's RE2 ``[^\\w]+`` is ASCII-only. The two agree exactly on
    ASCII text, which the ``documents`` fixture is (0 non-ASCII rows at
    every size, asserted in tests/test_properties.py); an accented or CJK
    corpus would tokenize differently on the two engines. The (?U) side is
    the reference-faithful one (Python re is Unicode).
    """
    return tokenize(F.lower(col))


def words_sql(expr: str = "text") -> str:
    """The DuckDB rendering of ``words`` for oracle construction (same
    ASCII precondition)."""
    return rf"list_filter(regexp_split_to_array(lower({expr}), '[^\w]+'), x -> x <> '')"


def array_join_sql(list_expr: str, sep: str) -> str:
    """The DuckDB rendering of ``F.array_join``: DuckDB 1.0's
    ``array_to_string`` gives NULL for an empty list where Spark gives
    ``''``; a NULL list stays NULL on both."""
    return f"CASE WHEN len({list_expr}) = 0 THEN '' ELSE array_to_string({list_expr}, '{sep}') END"


def remove_stopwords(tokens: Column | str, stopwords: list[str]) -> Column:
    """M2 (lab2.py:81-84): drop stopwords, preserving order and duplicates.

    ``filter(..., not array_contains(...))`` keeps duplicate non-stopwords
    (faithful to StopWordsRemover); ``array_except`` would dedup. The
    stopword list is a plan literal — it broadcasts with the task binary,
    no shuffle (J6).
    """
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    return F.filter(tokens, lambda t: ~F.array_contains(stop_arr, t))


def word_ngrams(tokens: Column | str, n: int) -> Column:
    """Word n-gram shingles (space-joined) — dedup/fingerprint building block.

    transform over a 0..len-n index range keeps everything JVM-side; empty
    result for docs shorter than n tokens.

    PERF NOTE (r13): higher-order-function lambdas run on Catalyst's
    INTERPRETED expression path (no codegen), and the per-position
    ``slice`` copies n elements — measured 3.8 s for the sf0.1 corpus vs
    0.6 s for the compiled-Scala equivalent. Plan-building call sites
    should prefer ``with_word_ngrams`` (below); this Column form remains
    for expression contexts that cannot take a DataFrame.
    """
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
    )
    # CaseWhen evaluates branches lazily, so the sequence() above never sees
    # a negative bound (it would descend, not return empty).
    return F.when(F.size(tokens) >= n, grams).otherwise(F.array().cast("array<string>"))


def with_word_ngrams(df, tokens, n: int, out_col: str):
    """``word_ngrams`` as a DataFrame step via ``pyspark.ml.feature.NGram``
    — exact row parity with the Column form on null-free token arrays
    (space-joined grams in position order, empty array below n tokens,
    null arrays normalized to empty), but the sliding window runs as one
    compiled Scala UDF instead of an interpreted transform/slice/array_join
    lambda per position (guide §1.2 per-task work; measured 6x on the
    sf0.1 corpus, parity diff 0 rows). ``tokens`` may be a column name or
    Column expression; the result appends ``out_col``.

    Null ELEMENTS are outside that parity: NGram renders them as
    ``'null'`` (``[a, null, b]``, n=2 -> ``['a null', 'null b']``) while
    ``array_join`` skips them (-> ``['a', 'b']``); dropping them first
    would not match either (-> ``['a b']``). ``tokenize`` never yields
    null elements; a caller's own token arrays get the NGram rendering.
    """
    from pyspark.ml.feature import NGram

    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    tmp = f"_wng_in_{out_col}"
    with_in = df.withColumn(
        tmp, F.coalesce(tokens, F.array().cast("array<string>"))
    )
    return NGram(n=n, inputCol=tmp, outputCol=out_col).transform(with_in).drop(tmp)
