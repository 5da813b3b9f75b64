"""Winsorized group stats: hand-checkable bounds and clip counts,
cross-engine equality (Spark == generated DuckDB oracle) on fixed and
randomized groups, tie-heavy values, NULL exclusion, degenerate
percentiles (0/1), and parameter validation."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.curation import (
    winsorize_group_stats,
    winsorize_oracle,
)

SCHEMA = "g string, v long"


def _spark_rows(spark, rows, **kw):
    return sorted(
        map(
            tuple,
            winsorize_group_stats(
                spark.createDataFrame(rows, SCHEMA), ["g"], "v", **kw
            ).collect(),
        )
    )


def _duck_rows(rows, **kw):
    con = duckdb.connect()
    values = ", ".join(
        f"('{g}', {'NULL' if v is None else v})" for g, v in rows
    )
    src = f"SELECT * FROM (VALUES {values}) AS t(g, v)"
    return sorted(
        map(
            tuple,
            con.execute(winsorize_oracle(["g"], "v", src, **kw)).fetchall(),
        )
    )


def test_hand_checkable(spark):
    # group a: values 1..10, p05/p95 nearest-rank -> idx ceil(0.05*10)=1,
    # ceil(0.95*10)=10 -> bounds 1 and 10, nothing clipped.
    # With p=(20,100)/(80,100): idx 2 and 8 -> bounds 2,8; clips 1 low
    # (value 1) and 2 high (9,10); wsum = 2 + (2+3+...+8) + 8 + 8 = 53.
    rows = [("a", i) for i in range(1, 11)]
    got = _spark_rows(spark, rows, p_lo=(20, 100), p_hi=(80, 100))
    assert got == [("a", 10, 2, 8, 1, 2, 53)]
    assert got == _duck_rows(rows, p_lo=(20, 100), p_hi=(80, 100))
    assert _spark_rows(spark, rows) == [("a", 10, 1, 10, 0, 0, 55)]


def test_nulls_excluded_and_ties(spark):
    rows = [("a", 5), ("a", None), ("a", 5), ("a", 5), ("a", 100)]
    got = _spark_rows(spark, rows, p_lo=(25, 100), p_hi=(75, 100))
    # n=4, ilo=ceil(1)=1 -> 5, ihi=ceil(3)=3 -> 5; 100 clips to 5
    assert got == [("a", 4, 5, 5, 0, 1, 20)]
    assert got == _duck_rows(rows, p_lo=(25, 100), p_hi=(75, 100))


def test_degenerate_percentiles(spark):
    rows = [("a", i) for i in (3, 1, 2)]
    # p_lo = 0 -> idx clamps to 1 (the min); p_hi = 1 -> idx n (the max)
    got = _spark_rows(spark, rows, p_lo=(0, 1), p_hi=(1, 1))
    assert got == [("a", 3, 1, 3, 0, 0, 6)]
    assert got == _duck_rows(rows, p_lo=(0, 1), p_hi=(1, 1))


def test_validation(spark):
    df_rows = [("a", 1)]
    with pytest.raises(ValueError):
        _spark_rows(spark, df_rows, p_lo=(3, 2))  # > 1
    with pytest.raises(ValueError):
        _spark_rows(spark, df_rows, p_lo=(1, 2), p_hi=(1, 4))  # lo > hi
    with pytest.raises(ValueError):
        _spark_rows(spark, df_rows, p_lo=(1, 0))  # zero den


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_randomized_cross_engine(spark, seed):
    rng = random.Random(seed)
    rows = []
    for g in range(rng.randint(1, 5)):
        tie_pool = list(range(-5, 6)) if rng.random() < 0.5 else None
        for _ in range(rng.randint(1, 60)):
            if rng.random() < 0.1:
                v = None
            elif tie_pool is not None:
                v = rng.choice(tie_pool)
            else:
                v = rng.randint(-10**6, 10**6)
            rows.append((f"g{g}", v))
        rows.append((f"g{g}", 0))  # non-empty after the NULL cut
    for _ in range(3):  # random rational percentiles, lo <= hi
        lo_d, hi_d = rng.randint(1, 20), rng.randint(1, 20)
        lo, hi = (rng.randint(0, lo_d), lo_d), (rng.randint(0, hi_d), hi_d)
        if lo[0] * hi[1] > hi[0] * lo[1]:
            lo, hi = hi, lo
        assert _spark_rows(spark, rows, p_lo=lo, p_hi=hi) == _duck_rows(
            rows, p_lo=lo, p_hi=hi
        ), (seed, lo, hi)
