"""MAD outlier stats: hand-checkable medians/MADs/flags, cross-engine
equality (Spark == generated DuckDB oracle) on fixed and randomized
groups, the mad=0 degenerate convention, NULL exclusion, tie
invariance, and parameter validation."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.curation import (
    mad_outlier_stats,
    mad_outlier_oracle,
)

SCHEMA = "g string, v long"


def _spark_rows(spark, rows, **kw):
    return sorted(
        map(
            tuple,
            mad_outlier_stats(
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
            con.execute(mad_outlier_oracle(["g"], "v", src, **kw)).fetchall(),
        )
    )


def test_hand_checkable(spark):
    # values 1..5 + 100: n=6, imed=3 -> med=3; d=[2,1,0,1,2,97],
    # sorted d=[0,1,1,2,2,97] -> mad=1; c=3 -> outliers: d>3 -> {100};
    # isum = 1+2+3+4+5 = 15.
    rows = [("a", i) for i in (1, 2, 3, 4, 5, 100)]
    got = _spark_rows(spark, rows)
    assert got == [("a", 6, 3, 1, 1, 15)]
    assert got == _duck_rows(rows)


def test_mad_zero_degenerate(spark):
    # over half the group at one value -> mad 0 -> any deviation flags
    rows = [("a", 7), ("a", 7), ("a", 7), ("a", 9)]
    got = _spark_rows(spark, rows)
    assert got == [("a", 4, 7, 0, 1, 21)]
    assert got == _duck_rows(rows)


def test_all_outliers_isum_zero(spark):
    # two points, med = lower = 1, mad = lower of d=[0, 9] = 0:
    # the d>0 row flags; isum counts only the median row
    rows = [("a", 1), ("a", 10)]
    got = _spark_rows(spark, rows)
    assert got == [("a", 2, 1, 0, 1, 1)]
    assert got == _duck_rows(rows)


def test_nulls_excluded(spark):
    rows = [("a", None), ("a", 5), ("a", None), ("a", 5), ("a", 6)]
    got = _spark_rows(spark, rows)
    assert got[0][1] == 3  # n counts non-null only
    assert got == _duck_rows(rows)


def test_validation(spark):
    with pytest.raises(ValueError):
        mad_outlier_stats(None, ["g"], "v", c=(3, 0))
    with pytest.raises(ValueError):
        mad_outlier_stats(None, ["g"], "v", c=(-1, 1))


def test_randomized_cross_engine(spark):
    rng = random.Random(20260815)
    for trial in range(4):
        span = rng.choice([30, 50])  # the narrow span is tie-heavy
        pool = [None] + list(range(-span, span + 1)) + [0, 0, 5, 5]
        rows = [
            (rng.choice(["a", "b", "c", "d"]), rng.choice(pool))
            for _ in range(rng.randrange(1, 80))
        ]
        kw = dict(c=rng.choice([(3, 1), (5, 2), (0, 1), (1, 3)]))
        assert _spark_rows(spark, rows, **kw) == _duck_rows(rows, **kw), (
            trial,
            rows,
            kw,
        )
