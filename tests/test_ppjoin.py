"""ppjoin_pairs: exact set-similarity join with prefix filtering.

The contract is ZERO false negatives (unlike LSH): against a brute-force
all-pairs Jaccard, the prefix-filtered result must be identical — the
prefix lemma (rarest-first order, |x|-ceil(t|x|)+1 prefix) is load-bearing
and these tests would catch an off-by-one in it.
"""

from __future__ import annotations

import random
from itertools import combinations

import pytest

from similarity_analysis_big_data_spark.operators import dedup


def _brute(sets: dict[int, set[str]], num: int, den: int):
    out = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if union and den * inter >= num * union:
            out[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    return out


def _spark_result(spark, sets: dict[int, set[str]], num: int, den: int):
    rows = [(i, t) for i, ts in sets.items() for t in ts]
    df = spark.createDataFrame(rows, "id bigint, shingle string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "PPJOIN_T", (num, den))
        got = dedup.ppjoin_pairs(df, "id").collect()
    return {
        (r.id_l, r.id_r): (r.n_common, r.size_l, r.size_r) for r in got
    }


def test_ppjoin_matches_bruteforce_random(spark):
    rng = random.Random(20260815)
    vocab = [f"t{i}" for i in range(40)]
    sets = {
        i: set(rng.sample(vocab, rng.randint(1, 25))) for i in range(60)
    }
    for num, den in [(1, 2), (3, 5), (4, 5)]:
        assert _spark_result(spark, sets, num, den) == _brute(sets, num, den)


def test_ppjoin_exact_threshold_boundary_included(spark):
    # J({1,2,3},{2,3,4}) = 2/4 = exactly 1/2 — the >= must keep it, and
    # no float representation of 0.5 may flip it either way.
    sets = {1: {"a", "b", "c"}, 2: {"b", "c", "d"}}
    got = _spark_result(spark, sets, 1, 2)
    assert got == {(1, 2): (2, 3, 3)}
    # one token fewer shared -> 1/5 < 1/2: excluded
    sets2 = {1: {"a", "b", "c"}, 2: {"c", "d", "e"}}
    assert _spark_result(spark, sets2, 1, 2) == {}


def test_ppjoin_exact_duplicates_and_disjoint(spark):
    sets = {
        1: {"x", "y", "z"},
        2: {"x", "y", "z"},  # J=1 with 1
        3: {"p", "q"},  # disjoint from all
    }
    assert _spark_result(spark, sets, 1, 2) == {(1, 2): (3, 3, 3)}


def test_ppjoin_skewed_boilerplate_token(spark):
    # a df=n token sorts LAST in every set's ordering, so it only enters
    # prefixes of sets that are almost entirely boilerplate — correctness
    # must hold regardless (the pairs sharing ONLY "the" have tiny J).
    sets = {i: {"the", f"u{i}", f"v{i}"} for i in range(20)}
    sets[100] = {"the", "u1", "v1"}  # true dup of set 1
    got = _spark_result(spark, sets, 1, 2)
    assert got == _brute(sets, 1, 2)
    assert (1, 100) in got
