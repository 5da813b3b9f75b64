"""BPE tokenizer training: pure-Python reference equality on a
hand-checkable corpus, cross-engine equality (Spark == generated
DuckDB oracle) on the sf0.001 documents table and on randomized
corpora, and the no-pairs early-stop edge."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.bpe import (
    bpe_portable_oracle,
    bpe_train,
)

SF_DIR = "/root/testdata/sf0.001"


def _reference_bpe(texts, n_merges, max_word_len=16, passes=None):
    """Same semantics as bpe_train, in pure Python."""
    passes = passes if passes is not None else max_word_len // 2
    freq: dict[str, int] = {}
    for txt in texts:
        for w in txt.lower().split():
            if 1 <= len(w) <= max_word_len and w.isalpha() and w.islower():
                freq[w] = freq.get(w, 0) + 1
    seqs = {" " + " ".join(w) + " ": f for w, f in freq.items()}
    merges = []
    for t in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, f in seqs.items():
            toks = s.split()
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((t, lhs, rhs, cnt))
        pat, rep = f" {lhs} {rhs} ", f" {lhs}{rhs} "
        seqs = {
            _replace_n(s, pat, rep, passes): f for s, f in seqs.items()
        }
    return merges


def _replace_n(s: str, pat: str, rep: str, n: int) -> str:
    for _ in range(n):
        s = s.replace(pat, rep)
    return s


def _spark_merges(spark, texts, **kw):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(df, **kw).orderBy("merge_rank").collect()
    ]


def _duck_merges(texts, **kw):
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    sql = bpe_portable_oracle(**kw)
    return [
        (int(a), b, c, int(d)) for a, b, c, d in con.execute(sql).fetchall()
    ]


def test_bpe_matches_reference_hand_corpus(spark):
    # classic subword corpus: 'lo' then 'low' dominate
    texts = ["low low low lower lowest", "low lower newest newest"]
    got = _spark_merges(spark, texts, n_merges=4)
    want = _reference_bpe(texts, n_merges=4)
    assert got == want
    # first merge is the most frequent adjacent pair: l+o (freq 6)
    assert got[0][1:3] == ("l", "o")


def test_bpe_self_overlap_chain(spark):
    # 'aaaa' with pair (a, a): fixpoint == greedy left-to-right
    texts = ["aaaa aaaa aa"]
    got = _spark_merges(spark, texts, n_merges=2)
    want = _reference_bpe(texts, n_merges=2)
    assert got == want
    assert got[0][1:3] == ("a", "a")


def test_bpe_no_pairs_early_stop(spark):
    # single-letter words only: zero adjacent pairs, empty merge table
    got = _spark_merges(spark, ["a b c a b"], n_merges=3)
    assert got == []


def test_bpe_cross_engine_sf0001(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = [
        (int(a), b, c, int(d))
        for a, b, c, d in con.execute(
            bpe_portable_oracle(n_merges=6)
        ).fetchall()
    ]
    assert len(got) == 6
    assert got == want


def test_bpe_cross_engine_max_vocab(spark):
    texts = ["low low lower lowest newest new news", "wide wider widest"]
    got = _spark_merges(spark, texts, n_merges=3, max_vocab=5)
    want = _duck_merges(texts, n_merges=3, max_vocab=5)
    assert got == want == _reference_bpe_vocab(texts, 3, 5)


def _reference_bpe_vocab(texts, n_merges, max_vocab):
    """Reference with the top-V vocab cap applied before training."""
    freq: dict[str, int] = {}
    for txt in texts:
        for w in txt.lower().split():
            if w.isalpha() and w.islower() and len(w) <= 16:
                freq[w] = freq.get(w, 0) + 1
    keep = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab]
    kept_texts = [" ".join(w for w, f in keep for _ in range(f))]
    return _reference_bpe(kept_texts, n_merges)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_bpe_cross_engine_randomized(spark, seed):
    """Tiny alphabets (pair-count ties everywhere, 'aaaa' self-overlap
    chains), words up to the max_word_len boundary and, sometimes, a
    max_vocab cap."""
    rng = random.Random(seed)
    alphabet = "ab" if rng.random() < 0.3 else "abcdef"
    vocab = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
        for _ in range(rng.randint(4, 40))
    ]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(rng.randint(2, 60))
    ]
    kw = {"n_merges": rng.randint(1, 8)}
    if rng.random() < 0.4:
        kw["max_vocab"] = rng.randint(2, 12)
    got = _spark_merges(spark, texts, **kw)
    assert got == _duck_merges(texts, **kw), kw
    if "max_vocab" in kw:
        assert got == _reference_bpe_vocab(texts, kw["n_merges"], kw["max_vocab"]), kw
    else:
        assert got == _reference_bpe(texts, kw["n_merges"]), kw


# ---- encode / token budget ----------------------------------------

from survivor_processing_spark.operators.bpe import (  # noqa: E402
    bpe_encode_counts,
    bpe_token_budget,
    bpe_token_budget_oracle,
)


def _spark_budget(spark, texts, **kw):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    return sorted(
        (r["doc_id"], r["n_tokens"], r["n_words"], r["n_oov_words"])
        for r in bpe_token_budget(df, **kw).collect()
    )


def _duck_budget(texts, **kw):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    return sorted(
        (int(a), int(b), int(c), int(d))
        for a, b, c, d in con.execute(
            bpe_token_budget_oracle(**kw)
        ).fetchall()
    )


def test_encode_hand_checkable(spark):
    # merges a+t, h+e, t+he (from the shared corpus): 'the' is one
    # token, 'cat' two, '123'/'!!' are 1-token OOV, empty doc zeros
    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "a cat 123 !!",
        "",
    ]
    got = _spark_budget(spark, texts, n_merges=3)
    assert got == [(0, 10, 6, 0), (1, 8, 5, 0), (2, 5, 4, 2), (3, 0, 0, 0)]
    assert got == _duck_budget(texts, n_merges=3)


def test_encode_merges_list_and_overlong_oov(spark):
    df = spark.createDataFrame(
        [(0, "abab abab xyz " + "a" * 40)], "doc_id long, text string"
    )
    rows = bpe_encode_counts(
        df, [("a", "b"), ("ab", "ab")], encode_max_len=32
    ).collect()
    # abab -> 1 token (two chained merges), xyz -> 3, 40-char word OOV
    assert [
        (r["n_tokens"], r["n_words"], r["n_oov_words"]) for r in rows
    ] == [(1 + 1 + 3 + 1, 4, 1)]


def test_encode_early_stop_guard(spark):
    # training finds zero pairs -> encode must leave words char-split
    # (the oracle's LEFT JOIN .. ON TRUE guard vs Spark's omitted
    # merges)
    texts = ["a b c a b", "c a"]
    got = _spark_budget(spark, texts, n_merges=3)
    assert got == _duck_budget(texts, n_merges=3)
    assert got[0][1] == 5  # every 1-char word is 1 token


def test_encode_cross_engine_random(spark):
    """Corpora mixing alphabetic, OOV and empty docs, random
    (n_merges, encode_max_len), with and without a max_vocab cap."""
    rng = random.Random(41)
    for cap in (False, True):
        vocab = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 10)))
            for _ in range(rng.randint(3, 20))
        ] + ["x9!", "42", "", "a1b", "!!"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
            for _ in range(rng.randint(2, 40))
        ]
        kw = {
            "n_merges": rng.randint(1, 6),
            "encode_max_len": rng.choice([8, 32]),
        }
        if cap:
            kw["max_vocab"] = rng.randint(2, 10)
        assert _spark_budget(spark, texts, **kw) == _duck_budget(
            texts, **kw
        ), kw


def test_encode_cross_engine_sf0001(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["n_words"], r["n_oov_words"])
        for r in bpe_token_budget(docs, n_merges=5).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(c), int(d))
        for a, b, c, d in con.execute(
            bpe_token_budget_oracle(n_merges=5)
        ).fetchall()
    )
    assert got == want
    assert len(got) > 0
