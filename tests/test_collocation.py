"""Dice collocation mining: hand-checkable counts and lanes,
cross-engine equality (Spark == generated DuckDB oracle) on fixed
and randomized corpora, boundary behavior (empty/one-token docs,
punctuation splits, case folding, min_count), and validation."""

from __future__ import annotations

import random

import duckdb
import pytest

from survivor_processing_spark.operators.collocation import (
    dice_collocations,
    dice_collocations_oracle,
)


def _spark_rows(spark, texts, **kw):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return sorted(map(tuple, dice_collocations(df, **kw).collect()))


def _duck_rows(texts, **kw):
    con = duckdb.connect()
    values = ", ".join("('" + t.replace("'", "''") + "')" for t in texts)
    src = f"SELECT * FROM (VALUES {values}) AS t(text)"
    return sorted(
        map(tuple, con.execute(dice_collocations_oracle(src, **kw)).fetchall())
    )


def test_hand_checkable(spark):
    # "a b a b" -> unigrams a:2 b:2; bigrams (a,b):2 (b,a):1.
    # min_count=2 keeps only (a,b): dice = 2*2/(2+2) = 1.0 -> scale.
    got = _spark_rows(spark, ["a b a b"], min_count=2, scale=1000)
    assert got == [("a", "b", 2, 2, 2, 1000)]


def test_cross_doc_pairs_do_not_join(spark):
    # bigrams never span documents: ("y","x") would only exist across
    # the boundary.
    got = _spark_rows(spark, ["x y", "x y"], min_count=1, scale=100)
    assert got == [("x", "y", 2, 2, 2, 100)]


def test_case_punct_and_short_docs(spark):
    texts = ["The  cat, the CAT!", "x", "", "cat the"]
    got = _spark_rows(spark, texts, min_count=1, scale=1_000_000)
    assert got == _duck_rows(texts, min_count=1, scale=1_000_000)
    # lowercased: tokens [the cat the cat] + [cat the] ->
    # c(the)=3 c(cat)=3; bigrams (the,cat):2 (cat,the):2
    assert ("the", "cat", 2, 3, 3, 2 * 1_000_000 * 2 // 6) in got


def test_validation(spark):
    df = None
    with pytest.raises(ValueError):
        dice_collocations(df, scale=10_000_000_000)
    with pytest.raises(ValueError):
        dice_collocations(df, min_count=0)


def test_randomized_cross_engine(spark):
    rng = random.Random(20260815)
    vocab = ["ab", "cd", "ef", "gh", "ij", "k9", "l0", "J0", "k"]
    for trial in range(4):
        texts = [
            " ".join(
                rng.choice(vocab) + (rng.choice(["", ",", ".", "!"]))
                for _ in range(rng.randrange(0, 15))
            )
            for _ in range(rng.randrange(1, 20))
        ]
        kw = dict(
            min_count=rng.choice([1, 2, 3]),
            scale=rng.choice([1, 1000, 1_000_000_000]),
        )
        assert _spark_rows(spark, texts, **kw) == _duck_rows(texts, **kw), (
            trial,
            texts,
            kw,
        )
