"""Content fingerprint: order/partitioning invariance, sensitivity to
any single-value change and to NULL position, empty-table identity,
float rejection, and cross-engine equality (Spark == generated
DuckDB oracle) on fixed and randomized tables."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.fingerprint import (
    content_fingerprint,
    content_fingerprint_oracle,
)

SCHEMA = "k long, s string"


def _spark_fp(spark, rows, parts=None):
    df = spark.createDataFrame(rows, SCHEMA)
    if parts:
        df = df.repartition(parts)
    return tuple(content_fingerprint(df, ["k", "s"]).collect()[0])


def _duck_fp(rows):
    con = duckdb.connect()
    if rows:
        values = ", ".join(
            f"({k}, "
            + ("NULL" if s is None else "'" + s.replace("'", "''") + "'")
            + ")"
            for k, s in rows
        )
        src = f"SELECT * FROM (VALUES {values}) AS t(k, s)"
    else:
        src = "SELECT 1 AS k, 'x' AS s WHERE FALSE"
    return con.execute(
        content_fingerprint_oracle(["k", "s"], src)
    ).fetchall()[0]


def test_order_and_partitioning_invariant(spark):
    rows = [(1, "a"), (2, "b"), (3, None), (2, "b")]
    base = _spark_fp(spark, rows)
    assert base == _spark_fp(spark, rows[::-1])
    assert base == _spark_fp(spark, rows, parts=7)
    assert base == _duck_fp(rows)


def test_sensitive_to_any_change(spark):
    base = _spark_fp(spark, [(1, "a"), (2, "b")])
    assert base != _spark_fp(spark, [(1, "a"), (2, "c")])
    assert base != _spark_fp(spark, [(1, "a"), (3, "b")])
    # NULL in a different column position must differ
    assert _spark_fp(spark, [(1, None)]) != _spark_fp(spark, [(1, "")])


def test_multiset_not_set(spark):
    # duplicate rows count: {x} != {x, x}
    assert _spark_fp(spark, [(1, "a")]) != _spark_fp(
        spark, [(1, "a"), (1, "a")]
    )


def test_empty_table(spark):
    got = _spark_fp(spark, [])
    assert got == (0, 0)
    assert got == _duck_fp([])


def test_float_rejected(spark):
    df = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with pytest.raises(ValueError):
        content_fingerprint(df)
    # scoping AWAY the float column is fine
    assert content_fingerprint(df, ["k"]).collect()[0]["n_rows"] == 1


def test_randomized_cross_engine(spark):
    rng = random.Random(20260815)
    for trial in range(4):
        rows = [
            (
                rng.randrange(-1000, 1000),
                rng.choice([None, "", "x", "yy", "z'q", "a b", "0"]),
            )
            for _ in range(rng.randrange(0, 120))
        ]
        got = _spark_fp(spark, rows)
        assert got == _duck_fp(rows), (trial, rows)
        # order- and partitioning-invariant
        parts = rng.choice([1, 5, 32])
        assert _spark_fp(spark, rows, parts) == got, (trial, parts)
