"""k-anonymity suppression: hand-checkable keep/suppress sets, the
stats summary's cross-engine equality (Spark == generated DuckDB
oracle) on fixed and randomized tables, row-level/summary agreement,
k=1 no-op, and validation."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.curation import (
    k_anonymity_oracle,
    k_anonymity_stats,
    k_anonymity_suppress,
)

SCHEMA = "zipc string, age long, payload string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _duck_stats(rows, k):
    con = duckdb.connect()
    values = ", ".join(f"('{z}', {a}, '{p}')" for z, a, p in rows)
    src = f"SELECT * FROM (VALUES {values}) AS t(zipc, age, payload)"
    return con.execute(
        k_anonymity_oracle(["zipc", "age"], k, src)
    ).fetchall()[0]


def test_hand_checkable(spark):
    rows = [
        ("10001", 30, "a"), ("10001", 30, "b"),  # crowd of 2: kept at k=2
        ("10001", 31, "c"),                       # unique: suppressed
        ("94105", 40, "d"),                       # unique: suppressed
    ]
    kept = sorted(
        r["payload"]
        for r in k_anonymity_suppress(_df(spark, rows), ["zipc", "age"], 2)
        .collect()
    )
    assert kept == ["a", "b"]
    stats = k_anonymity_stats(_df(spark, rows), ["zipc", "age"], 2)
    assert tuple(stats.collect()[0]) == (3, 2, 2, 2)
    assert tuple(stats.collect()[0]) == _duck_stats(rows, 2)


def test_k1_is_noop(spark):
    rows = [("z", 1, "x"), ("y", 2, "w")]
    assert (
        k_anonymity_suppress(_df(spark, rows), ["zipc", "age"], 1).count()
        == 2
    )


def test_row_level_agrees_with_summary(spark):
    rng = random.Random(20260815)
    for _ in range(2):
        rows = [
            (
                rng.choice(["a", "b", "c"]),
                rng.randrange(1, 5),
                f"p{i}",
            )
            for i in range(rng.randrange(1, 60))
        ]
        df = _df(spark, rows)
        for k in rng.sample([1, 2, 3, 4, 5, 8], 3):
            n_kept = k_anonymity_suppress(df, ["zipc", "age"], k).count()
            stats = tuple(
                k_anonymity_stats(df, ["zipc", "age"], k).collect()[0]
            )
            assert stats[2] == n_kept, (len(rows), k)
            assert stats[2] + stats[3] == len(rows), (len(rows), k)
            assert stats == _duck_stats(rows, k), (len(rows), k)


def test_validation(spark):
    with pytest.raises(ValueError):
        k_anonymity_suppress(None, ["zipc"], 0)
    with pytest.raises(ValueError):
        k_anonymity_stats(None, ["zipc"], 0)
