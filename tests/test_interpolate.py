"""Linear interpolation gap fill: hand-checkable exact rationals,
cross-engine equality (Spark == generated DuckDB oracle) on fixed and
randomized series, and the boundary cases (leading/trailing NULLs,
all-NULL keys, single-point keys, uneven time gaps)."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.timeseries import (
    interpolate_linear,
    interpolate_linear_oracle,
)

SCHEMA = "k string, t long, yq long"


def _spark_rows(spark, rows):
    return sorted(
        map(
            tuple,
            interpolate_linear(
                spark.createDataFrame(rows, SCHEMA), ["k"], "t", "yq"
            ).collect(),
        )
    )


def _duck_rows(rows):
    con = duckdb.connect()
    values = ", ".join(
        f"('{k}', {t}, {'NULL' if y is None else y})" for k, t, y in rows
    )
    src = f"SELECT * FROM (VALUES {values}) AS v(k, t, yq)"
    return sorted(
        map(
            tuple,
            con.execute(
                interpolate_linear_oracle(["k"], "t", "yq", src)
            ).fetchall(),
        )
    )


def test_hand_checkable_exact_fill(spark):
    rows = [
        ("a", 0, 100),
        ("a", 10, None),  # -> (100*30 + 200*10)/30 = num 5000, den 30
        ("a", 30, 300),
        ("a", 40, None),  # trailing NULL -> stays NULL
        ("b", 5, None),  # leading NULL -> stays NULL
        ("b", 6, 7),
    ]
    got = {r[:2]: r[2:] for r in _spark_rows(spark, rows)}
    assert got[("a", 10)] == (None, 100 * 30 + (300 - 100) * 10, 30, True)
    assert got[("a", 0)] == (100, 100, 1, False)
    assert got[("a", 40)] == (None, None, None, False)
    assert got[("b", 5)] == (None, None, None, False)
    # the filled rational reduces to the true midpoint value
    num, den = got[("a", 10)][1], got[("a", 10)][2]
    assert num / den == pytest.approx(100 + (300 - 100) * 10 / 30)


def test_fixed_cross_engine(spark):
    rows = [
        ("a", 0, 100),
        ("a", 10, None),
        ("a", 30, 300),
        ("a", 40, None),
        ("b", 5, None),
        ("b", 6, 7),
        ("c", 1, None),  # all-NULL key
        ("c", 2, None),
        ("d", 9, -5),  # single point
    ]
    assert _spark_rows(spark, rows) == _duck_rows(rows)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_randomized_cross_engine(spark, seed):
    # NULL runs, leading/trailing NULLs, all-NULL keys, negatives
    rng = random.Random(seed)
    rows = []
    for k in range(rng.randint(1, 6)):
        ts = sorted(rng.sample(range(0, 500), rng.randint(0, 25)))
        null_p = rng.choice([0.2, 0.4, 0.5, 0.9, 1.0])
        for t in ts:
            y = None if rng.random() < null_p else rng.randint(-1000, 1000)
            rows.append((f"k{k}", t, y))
    if not rows:
        rows = [("k0", 0, 1)]
    assert _spark_rows(spark, rows) == _duck_rows(rows), (seed, len(rows))


def test_interpolation_is_exact_not_float(spark):
    # A gap whose float division would round: 1/3 position between
    # y=0 and y=1 -> num=1, den=3 exactly.
    rows = [("a", 0, 0), ("a", 1, None), ("a", 3, 1)]
    got = {r[:2]: r[2:] for r in _spark_rows(spark, rows)}
    assert got[("a", 1)] == (None, 1, 3, True)
