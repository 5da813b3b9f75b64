"""Bigram fluency scoring: hand-checkable lanes, repeated-structure
text outscores shuffled word salad, short docs are absent,
cross-engine equality (Spark == generated DuckDB oracle) on fixed
and randomized corpora, and validation."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.collocation import (
    bigram_fluency,
    bigram_fluency_oracle,
)

SCHEMA = "doc_id long, text string"


def _spark_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    return sorted(map(tuple, bigram_fluency(df, **kw).collect()))


def _duck_rows(rows, **kw):
    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')" for i, t in rows
    )
    src = f"SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
    return sorted(
        map(
            tuple,
            con.execute(bigram_fluency_oracle(src, **kw)).fetchall(),
        )
    )


def test_hand_checkable(spark):
    # corpus: "a b" x2 and "a c". c(a)=3; c_ab(a,b)=2, c_ab(a,c)=1.
    # lane(a,b) = 1000*2 DIV 3 = 666; lane(a,c) = 1000 DIV 3 = 333.
    rows = [(1, "a b"), (2, "a b"), (3, "a c")]
    got = _spark_rows(spark, rows, scale=1000)
    assert got == [(1, 1, 666), (2, 1, 666), (3, 1, 333)]
    assert got == _duck_rows(rows, scale=1000)


def test_fluent_beats_salad(spark):
    # doc 1 repeats the corpus's dominant transitions; doc 2 uses the
    # same words in never-seen orders
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "the cat sat on the mat"),
        (4, "mat the on sat cat the"),
    ]
    scores = dict(
        (d, f) for d, _, f in _spark_rows(spark, rows, scale=1_000_000)
    )
    assert scores[1] > scores[4]
    assert _spark_rows(spark, rows) == _duck_rows(rows)


def test_short_docs_absent(spark):
    rows = [(1, "solo"), (2, ""), (3, "a b")]
    got = _spark_rows(spark, rows)
    assert [r[0] for r in got] == [3]
    assert got == _duck_rows(rows)


def test_validation(spark):
    with pytest.raises(ValueError):
        bigram_fluency(None, scale=0)


def test_randomized_cross_engine(spark):
    rng = random.Random(20260815)
    vocab = ["aa", "bb", "cc", "dd", "e1", "f"]
    for trial in range(4):
        rows = [
            (
                i,
                " ".join(
                    rng.choice(vocab) + rng.choice(["", ".", ","])
                    for _ in range(rng.randrange(0, 14))
                ),
            )
            for i in range(rng.randrange(1, 18))
        ]
        kw = dict(scale=rng.choice([1000, 1_000_000]))
        assert _spark_rows(spark, rows, **kw) == _duck_rows(rows, **kw), (
            trial,
            rows,
            kw,
        )
