"""Hashing primitives for the dedup / fingerprint family (north-star [ext]).

Everything here is chosen to be *cross-engine reproducible*: the same
integers fall out of Spark column expressions and of ANSI-ish SQL (DuckDB
oracle), so even the sketch-based operators are hash-checkable. That rules
out engine-native hashes (Spark murmur3 ``hash()`` vs DuckDB ``hash()``
differ); the portable base is md5, available in both.

- ``md5_long``: first 15 hex digits of md5 -> 60-bit non-negative int64.
- MinHash: K universal-hash permutations ``(A_i * h + B_i) mod P`` over
  md5-derived term ids. A_i < 2^20 and h < P < 2^30 keep products < 2^50 —
  no int64 overflow on either engine.
- SimHash: 32-bit, weighted bit-majority over term hashes.
- Rolling fingerprint: polynomial hash over characters, foldable both as
  Spark ``aggregate`` and DuckDB ``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 1_000_000_007  # prime modulus for permutations & fingerprints
ROLL_BASE = 31

# Fixed universal-hash parameters (odd multipliers, arbitrary offsets) —
# literal constants so the DuckDB oracle can embed the identical family.
MINHASH_PARAMS: list[tuple[int, int]] = [
    (472_883, 102_643),
    (928_559, 761_393),
    (193_939, 521_287),
    (676_181, 34_337),
    (354_313, 899_809),
    (817_505, 223_621),
    (62_987, 647_011),
    (741_827, 438_199),
    (286_661, 90_149),
    (559_051, 324_883),
    (914_117, 710_569),
    (135_301, 68_207),
]
N_MINHASH = len(MINHASH_PARAMS)
LSH_BANDS = 4
LSH_ROWS = 3  # N_MINHASH == LSH_BANDS * LSH_ROWS


def md5_long(col: Column | str) -> Column:
    """Portable 60-bit integer hash: int(md5(x)[0:15], 16).

    DuckDB twin: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """The DuckDB rendering of md5_long for oracle construction."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def minhash_expr(hash_col: Column | str, i: int) -> Column:
    """Permutation i applied to a pre-bucketed term hash."""
    a, b = MINHASH_PARAMS[i]
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return (F.lit(a) * h + F.lit(b)) % MERSENNE_P


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash of a string's characters mod MERSENNE_P.

    DuckDB twin: ``ROLLING_FP_SQL`` (NULL text -> NULL on both).
    Character-level, JVM-side (no UDF): ``aggregate`` folds the split array
    inside whole-stage codegen.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLL_BASE + x) % MERSENNE_P,
    )


# NULL text has no fingerprint: list_prepend(0, NULL) would fold to 0.
ROLLING_FP_SQL = (
    "CASE WHEN {expr} IS NOT NULL THEN "
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split({expr}, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % 1000000007) END"
)
