"""Corpus n-gram coverage scoring: hand-checkable semantics, the
gibberish-detection property, zero-edge docs, and cross-engine
equality (Spark == generated DuckDB oracle) on fixed, random, and
sf0.001 corpora."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.curation import (
    ngram_coverage_oracle,
    ngram_coverage_score,
)

SF_DIR = "/root/testdata/sf0.001"


def _spark_cov(spark, texts, **kw):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    return {
        r["doc_id"]: (r["n_grams"], r["n_covered"])
        for r in ngram_coverage_score(df, **kw).collect()
    }


def _duck_cov(texts, **kw):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())}
        ),
    )
    return {
        int(i): (int(g), int(c))
        for i, g, c in con.execute(
            ngram_coverage_oracle(**kw)
        ).fetchall()
    }


def test_hand_checkable(spark):
    texts = {
        1: "the cat sat",        # bigrams: (the cat), (cat sat)
        2: "the cat ran",        # (the cat), (cat ran)
        3: "zq xv qqq",          # gibberish: nothing repeats
        4: "hi",                 # < n words -> zeros
    }
    got = _spark_cov(spark, texts)
    # only "the cat" occurs twice corpus-wide
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 0), 4: (0, 0)}
    assert got == _duck_cov(texts)


def test_gibberish_scores_lowest(spark):
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(30))
        for d in range(20)
    }
    texts[99] = "qzx vbn mlk poi uyt rew"  # unique junk bigrams
    got = _spark_cov(spark, texts)
    assert got == _duck_cov(texts)
    ratios = {
        d: c / g for d, (g, c) in got.items() if g > 0
    }
    assert ratios[99] == min(ratios.values()) == 0.0


def test_within_doc_repeats_count(spark):
    # a doc's own repetition makes its bigrams "known"
    texts = {1: "ab cd ab cd ab cd", 2: "ef gh"}
    got = _spark_cov(spark, texts)
    assert got == _duck_cov(texts)
    g, c = got[1]
    assert g == 5 and c == 5  # every bigram occurs >= 2x in doc 1
    assert got[2] == (1, 0)


def test_cross_engine_random_params(spark):
    """Random corpora with heavy repetition and a planted gibberish
    doc, random (n, min_ref_count): counts vs the oracle."""
    rng = random.Random(29)
    for _ in range(3):
        vocab = [f"t{i}" for i in range(rng.randint(5, 20))]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(0, 30))
            )
            for d in range(rng.randint(3, 40))
        }
        if rng.random() < 0.5:  # unique-gibberish doc
            texts[500] = " ".join(f"zz{i}" for i in range(8))
        kw = {"n": rng.randint(1, 4), "min_ref_count": rng.randint(1, 4)}
        assert _spark_cov(spark, texts, **kw) == _duck_cov(
            texts, **kw
        ), (kw, len(texts))


def test_cross_engine_sf0001(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_covered"])
        for r in ngram_coverage_score(docs, n=2).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        int(i): (int(g), int(c))
        for i, g, c in con.execute(ngram_coverage_oracle(n=2)).fetchall()
    }
    assert got == want
    assert len(got) > 0
    # the generator's planted near-dups guarantee covered mass
    assert sum(c for _, c in got.values()) > 0


def test_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        ngram_coverage_score(df, n=0)
    with pytest.raises(ValueError):
        ngram_coverage_score(df, min_ref_count=0)
