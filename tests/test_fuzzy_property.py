"""Property test: symmetric-delete blocking finds EXACTLY the
dist≤d pairs a brute-force Levenshtein scan finds — the 100%-recall
claim (operators/fuzzy.py) checked on random short strings with
heavy variant collisions (small alphabet), at depth 1 and depth 2."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from survivor_processing_spark.operators.fuzzy import (
    deletion_variants,
    fuzzy_join,
)

WORD = st.text(alphabet="abc", min_size=1, max_size=6)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(WORD, min_size=1, max_size=12, unique=True),
    rights=st.lists(WORD, min_size=1, max_size=12, unique=True),
)
def test_fuzzy_dist1_equals_bruteforce(spark, lefts, rights):
    ldf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(lefts)], "lid int, lw string"
    )
    rdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(rights)], "rid int, rw string"
    )
    got = {
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join(ldf, rdf, "lw", "rw", max_dist=1).collect()
    }
    want = {
        (li, ri, _lev(lw, rw))
        for li, lw in enumerate(lefts)
        for ri, rw in enumerate(rights)
        if _lev(lw, rw) <= 1
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(WORD, min_size=1, max_size=10, unique=True),
    rights=st.lists(WORD, min_size=1, max_size=10, unique=True),
)
def test_fuzzy_dist2_equals_bruteforce(spark, lefts, rights):
    """Two-round deletion blocking is complete AND precise for
    dist ≤ 2 — the SymSpell depth-2 guarantee, including pairs that
    share no single-deletion variant (e.g. 'ab' vs 'ba')."""
    ldf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(lefts)], "lid int, lw string"
    )
    rdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(rights)], "rid int, rw string"
    )
    got = {
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join(ldf, rdf, "lw", "rw", max_dist=2).collect()
    }
    want = {
        (li, ri, _lev(lw, rw))
        for li, lw in enumerate(lefts)
        for ri, rw in enumerate(rights)
        if _lev(lw, rw) <= 2
    }
    assert got == want


def test_fuzzy_dist1_rejects_dist2(spark):
    # the depth-1 join rejects a distance-2 pair the depth-2 join
    # keeps; depths outside {1, 2} raise instead of under-returning
    ldf = spark.createDataFrame([(1, "abcd")], "lid int, lw string")
    rdf = spark.createDataFrame([(1, "abxy")], "rid int, rw string")
    assert fuzzy_join(ldf, rdf, "lw", "rw", max_dist=1).count() == 0
    assert fuzzy_join(ldf, rdf, "lw", "rw", max_dist=2).count() == 1
    for bad in (0, 3):
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_join(ldf, ldf, "lw", "lw", max_dist=bad)
        with pytest.raises(ValueError, match="max_dist"):
            deletion_variants("lw", max_dist=bad)
