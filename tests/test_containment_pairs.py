"""ngram_containment_pairs (r11, operators/dedup.py — queued):
asymmetric near-containment over word n-gram shingle sets.  The
symmetric Jaccard misses subset duplication (a short doc quoted
wholesale inside a long one); containment flags it in the
short→long direction.  Spark == the generated DuckDB oracle on
fixed, sf0.001, and randomized corpora; property contracts:
identical docs contain each other at 1.0, containment ≥ jaccard in
both directions, and the subset direction dominates."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.dedup import (
    ngram_containment_oracle,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)

SF = "/root/testdata/sf0.001"


def _spark_pairs(spark, texts: dict[int, str], threshold, **kw):
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    return {
        (r["src"], r["dst"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "text", "doc_id", threshold, **kw
        ).collect()
    }


def _oracle_pairs(texts: dict[int, str], threshold, **kw):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())}
        ),
    )
    return {
        (int(a), int(b)): float(c)
        for a, b, c in con.execute(
            ngram_containment_oracle(threshold, **kw)
        ).fetchall()
    }


def test_subset_doc_is_contained_not_jaccard_dup(spark):
    quoted = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i} x{i}" for i in range(30))
    texts = {1: quoted, 2: f"{filler} {quoted} {filler}"}
    got = _spark_pairs(spark, texts, 0.9)
    # every shingle of doc 1 appears in doc 2: containment 1.0
    assert got[(1, 2)] == 1.0
    assert (2, 1) not in got  # reverse direction far below 0.9
    # and the symmetric Jaccard misses the pair entirely at 0.5
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    assert (
        ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).count()
        == 0
    )


def test_fixed_corpus_matches_oracle(spark):
    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over a sleeping dog",
        3: "the quick brown fox jumps over the lazy dog today again",
        4: "completely different words here entirely",
        5: "the quick brown fox",
    }
    for t in (0.3, 0.6, 0.9):
        got = _spark_pairs(spark, texts, t)
        want = _oracle_pairs(texts, t)
        assert got == want, (t, got, want)


def test_identical_docs_contain_both_ways(spark):
    texts = {7: "one two three four five", 8: "one two three four five"}
    got = _spark_pairs(spark, texts, 0.99)
    assert got == {(7, 8): 1.0, (8, 7): 1.0}


@pytest.mark.parametrize("seed", [1, 2])
def test_randomized_cross_engine(spark, seed):
    """Random corpora with a planted subset duplicate (a short doc
    quoted verbatim inside a long one), random thresholds and shingle
    widths: the ordered pair set and every containment value vs the
    oracle, and the planted subset surfaces at 1.0 short->long."""
    import random

    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(rng.randint(6, 16))]
    texts = {
        d: " ".join(
            rng.choice(vocab) for _ in range(rng.randint(1, 25))
        )
        for d in range(rng.randint(4, 25))
    }
    src = None
    if rng.random() < 0.6:
        src = rng.choice(list(texts))
        host = " ".join(f"h{i}" for i in range(rng.randint(10, 25)))
        texts[900] = f"{host} {texts[src]} {host}"
    t = rng.choice([0.25, 0.5, 0.75, 0.9])
    kw = {"shingle_n": rng.choice([2, 3])}
    got = _spark_pairs(spark, texts, t, max_posting=None, **kw)
    want = _oracle_pairs(texts, t, **kw)
    assert got == want, (t, kw)
    # the subset guarantee holds only for docs with >= n words: a
    # shorter doc is one partial shingle that never re-appears as a
    # full n-gram of the host
    if src is not None and len(texts[src].split()) >= kw["shingle_n"]:
        assert got.get((src, 900)) == 1.0, (src, t, kw)


def test_sf0001_cross_engine_and_dominates_jaccard(spark):
    from survivor_processing_spark.catalog import load_table

    d = load_table(spark, SF, "documents").limit(120)
    got = {
        (r["src"], r["dst"]): r["containment"]
        for r in ngram_containment_pairs(
            d, "text", "doc_id", 0.5
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", d.toPandas())
    want = {
        (int(a), int(b)): float(c)
        for a, b, c in con.execute(
            ngram_containment_oracle(0.5)
        ).fetchall()
    }
    assert got == want
    # containment dominates jaccard on every surviving ordered pair
    jac = {
        frozenset((r["id1"], r["id2"])): r["jaccard"]
        for r in ngram_jaccard_pairs(
            d, "text", "doc_id", threshold=0.0
        ).collect()
    }
    for (src, dst), c in got.items():
        j = jac.get(frozenset((src, dst)))
        if j is not None:
            assert c >= j - 1e-12
