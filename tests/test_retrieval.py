"""Retrieval primitives: cross-engine equality (Spark == generated
DuckDB oracle) for the inverted index and BM25 doc-term weights on
fixed, sf0.001, and randomized corpora; float-path BM25 search vs a
pure-Python recomputation; edge cases (empty docs, min_df/max_df
cuts, custom k1/b rationals)."""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.retrieval import (
    _sat_coeffs,
    bm25_doc_term_scores,
    bm25_query_topk,
    bm25_scores_oracle,
    inverted_postings,
    inverted_postings_oracle,
)

SF_DIR = "/root/testdata/sf0.001"

FIXED = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "the quick red fox",
    3: "lorem ipsum dolor sit amet the",
    4: "quick quick quick brown",
    5: "",
    6: "   Mixed   CASE    and   spacing   the  ",
}


def _duck(sql, texts):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
    )
    return sorted(map(tuple, con.execute(sql).fetchall()))


def _spark_df(spark, texts):
    return spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )


def _rand_corpus(seed, n_docs=40, vocab=25):
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    return {
        i: " ".join(
            rng.choice(words) for _ in range(rng.randint(0, 30))
        )
        for i in range(n_docs)
    }


def test_inverted_postings_fixed(spark):
    s = sorted(map(tuple, inverted_postings(_spark_df(spark, FIXED)).collect()))
    d = _duck(inverted_postings_oracle(), FIXED)
    assert s == d
    by_tok = {r[0]: r for r in s}
    # 'quick' in docs 1, 2, 4 with tf 1,1,3
    assert by_tok["quick"][1] == 3
    assert by_tok["quick"][2] == 5
    assert by_tok["quick"][3] == "1:1 2:1 4:3"


def test_inverted_postings_df_cuts(spark):
    s = sorted(
        map(
            tuple,
            inverted_postings(
                _spark_df(spark, FIXED), min_df=2, max_df=3
            ).collect(),
        )
    )
    d = _duck(inverted_postings_oracle(min_df=2, max_df=3), FIXED)
    assert s == d
    toks = {r[0] for r in s}
    assert "the" not in toks  # df 4 > max_df 3
    assert "lorem" not in toks  # df 1 < min_df 2
    assert "quick" in toks


def test_bm25_doc_term_scores_fixed(spark):
    s = sorted(map(tuple, bm25_doc_term_scores(_spark_df(spark, FIXED)).collect()))
    d = _duck(bm25_scores_oracle(), FIXED)
    assert s == d
    # empty doc emits nothing; no doc exceeds top_terms rows
    docs = [r[0] for r in s]
    assert 5 not in docs
    assert max(docs.count(i) for i in set(docs)) <= 3


@pytest.mark.parametrize("k1n,k1d,bn,bd", [(6, 5, 3, 4), (2, 1, 1, 1), (1, 2, 0, 1)])
def test_bm25_custom_rationals(spark, k1n, k1d, bn, bd):
    s = sorted(
        map(
            tuple,
            bm25_doc_term_scores(
                _spark_df(spark, FIXED),
                k1_num=k1n,
                k1_den=k1d,
                b_num=bn,
                b_den=bd,
            ).collect(),
        )
    )
    d = _duck(bm25_scores_oracle(k1_num=k1n, k1_den=k1d, b_num=bn, b_den=bd), FIXED)
    assert s == d


def test_sat_coeffs_reduce():
    # k1=2/1, b=1/1 -> cn=3, cd_tf=1, cd_const=0, cd_dl=2
    assert _sat_coeffs(2, 1, 1, 1) == (3, 1, 0, 2)
    # all-even coefficient sets reduce by the gcd
    cn, cd_tf, cd_const, cd_dl = _sat_coeffs(2, 2, 2, 4)
    assert math.gcd(math.gcd(cn, cd_tf), math.gcd(cd_const, cd_dl)) == 1


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_retrieval_randomized_cross_engine(spark, seed):
    """Random corpora with empty docs and, half the time, a
    stopword-class token in every doc; random min_df/max_df cuts and
    k1/b rationals: postings and BM25 lanes vs the oracles."""
    rng = random.Random(seed)
    texts = _rand_corpus(seed, rng.randint(2, 40), rng.randint(3, 25))
    if rng.random() < 0.5:
        texts = {d: (t + " hot") if t else "hot" for d, t in texts.items()}
    kw = {"min_df": rng.randint(1, 3)}
    if rng.random() < 0.5:
        kw["max_df"] = rng.randint(kw["min_df"], 25)
    bkw = {
        "k1_num": rng.randint(1, 4),
        "k1_den": rng.randint(1, 4),
        "b_num": rng.randint(0, 2),
        "top_terms": rng.randint(1, 5),
    }
    bkw["b_den"] = rng.randint(max(1, bkw["b_num"]), 4)
    df = _spark_df(spark, texts)
    assert sorted(map(tuple, inverted_postings(df, **kw).collect())) == _duck(
        inverted_postings_oracle(**kw), texts
    ), kw
    assert sorted(map(tuple, bm25_doc_term_scores(df, **bkw).collect())) == _duck(
        bm25_scores_oracle(**bkw), texts
    ), bkw


def test_retrieval_sf0001_cross_engine(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()
    }
    assert sorted(map(tuple, bm25_doc_term_scores(docs).collect())) == _duck(
        bm25_scores_oracle(), texts
    )
    assert sorted(
        map(tuple, inverted_postings(docs, min_df=2, max_df=30).collect())
    ) == _duck(inverted_postings_oracle(min_df=2, max_df=30), texts)


def test_bm25_query_topk_matches_python(spark):
    texts = _rand_corpus(7, n_docs=60, vocab=15)
    got = bm25_query_topk(
        _spark_df(spark, texts), ["w1", "w2", "w3"], topk=8
    ).collect()

    # pure-Python recomputation
    k1, b = 1.2, 0.75
    tfs = {}
    for i, t in texts.items():
        ws = [w for w in " ".join(t.lower().split()).split(" ") if w]
        if ws:
            tfs[i] = {}
            for w in ws:
                tfs[i][w] = tfs[i].get(w, 0) + 1
    dls = {i: sum(v.values()) for i, v in tfs.items()}
    n, avg = len(tfs), sum(dls.values()) / len(tfs)
    dfq = {}
    for v in tfs.values():
        for w in v:
            dfq[w] = dfq.get(w, 0) + 1
    scores = {}
    for i, v in tfs.items():
        s = 0.0
        for t in ("w1", "w2", "w3"):
            if t in v:
                idf = math.log(1 + (n - dfq[t] + 0.5) / (dfq[t] + 0.5))
                s += idf * v[t] * (k1 + 1) / (
                    v[t] + k1 * (1 - b + b * dls[i] / avg)
                )
        if s:
            scores[i] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [r["doc_id"] for r in got] == [i for i, _ in expect]
    for r, (_, sc) in zip(got, expect):
        assert r["score"] == pytest.approx(sc, rel=1e-9)


def test_bm25_query_topk_rejects_empty_terms(spark):
    with pytest.raises(ValueError):
        bm25_query_topk(_spark_df(spark, FIXED), [])
