"""Exact substring-span dedup: pure-Python reference equality on
hand-checkable corpora, cross-engine equality (Spark == generated
DuckDB oracle) on fixed, sf0.001, and randomized corpora, and the
edge cases (short docs, pure-boilerplate docs, within-doc repeats,
touching spans)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.substring import (
    substring_clean_oracle,
    substring_dedup_clean,
    substring_dedup_spans,
    substring_spans_oracle,
)

SF_DIR = "/root/testdata/sf0.001"


def _reference_spans(texts, n, min_count=2):
    """Same semantics in pure Python: dict doc_id -> merged spans."""
    occ = {}  # gram -> list of (doc_id, pos)
    toks = {}
    for doc_id, txt in texts.items():
        words = " ".join(txt.lower().split()).split(" ")
        toks[doc_id] = words
        for i in range(len(words) - n + 1):
            occ.setdefault(" ".join(words[i : i + n]), []).append(
                (doc_id, i + 1)
            )
    hits = {}  # doc_id -> sorted positions
    for gram, places in occ.items():
        if len(places) >= min_count:
            for doc_id, pos in places:
                hits.setdefault(doc_id, set()).add(pos)
    spans = {}
    for doc_id, positions in hits.items():
        merged = []
        for pos in sorted(positions):
            if merged and pos <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], pos + n)
            else:
                merged.append([pos, pos + n])
        spans[doc_id] = [tuple(m) for m in merged]
    return spans, toks


def _spark_spans(spark, texts, n, min_count=2):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = substring_dedup_spans(df, n=n, min_count=min_count).collect()
    return sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in out)


def _duck(sql, texts):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())}
        ),
    )
    return con.execute(sql).fetchall()


BOILER = "this content is licensed under the creative commons license"


def test_spans_hand_checkable(spark):
    texts = {
        1: f"alpha beta {BOILER} gamma delta",
        2: f"unique words here {BOILER} trailing tail",
        3: "totally distinct document with no repeats at all",
        4: "short doc",
    }
    spans, _ = _reference_spans(texts, n=5)
    got = _spark_spans(spark, texts, n=5)
    want = sorted(
        (d, s, e) for d, sp in spans.items() for (s, e) in sp
    )
    assert got == want
    # the boilerplate is 9 tokens -> 5 five-gram hits merge to ONE span
    assert len([g for g in got if g[0] == 1]) == 1
    assert 3 not in {g[0] for g in got} and 4 not in {g[0] for g in got}


def test_within_doc_repeat_and_touching_spans(spark):
    # "a b c" repeats inside doc 1 twice -> both occurrences removed;
    # back-to-back repeats produce touching spans that must coalesce.
    texts = {1: "a b c x y a b c a b c", 2: "nothing shared here"}
    spans, _ = _reference_spans(texts, n=3)
    got = _spark_spans(spark, texts, n=3)
    want = sorted((d, s, e) for d, sp in spans.items() for (s, e) in sp)
    assert got == want
    # positions 1, 6, 9 -> [1,4) and [6,12) (6..9 touch/overlap)
    assert got == [(1, 1, 4), (1, 6, 12)]


def test_clean_cuts_and_preserves_order(spark):
    texts = {
        1: f"alpha beta {BOILER} gamma",
        2: f"{BOILER}",
        3: "independent text",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in substring_dedup_clean(df, n=5).collect()
    }
    assert rows[1]["clean_text"] == "alpha beta gamma"
    assert rows[1]["n_removed_tokens"] == 9
    assert rows[2]["clean_text"] == ""  # pure boilerplate
    assert rows[3]["clean_text"] == "independent text"
    assert rows[3]["n_removed_tokens"] == 0


@pytest.mark.parametrize("n,min_count", [(3, 2), (5, 2), (4, 3)])
def test_cross_engine_fixed(spark, n, min_count):
    texts = {
        1: f"one two {BOILER} three",
        2: f"four five six {BOILER}",
        3: f"{BOILER} seven eight nine ten",
        4: "w x y z w x y z w x y z",
        5: "tiny",
    }
    got = _spark_spans(spark, texts, n=n, min_count=min_count)
    want = sorted(
        (int(d), int(s), int(e))
        for d, s, e, _ in _duck(
            substring_spans_oracle(n=n, min_count=min_count), texts
        )
    )
    assert got == want


def test_cross_engine_clean_fixed(spark):
    texts = {
        1: f"one two {BOILER} three",
        2: f"{BOILER}",
        3: "plain document",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = sorted(
        (
            r["doc_id"],
            r["clean_text"],
            r["n_tokens"],
            r["n_removed_tokens"],
        )
        for r in substring_dedup_clean(df, n=5).collect()
    )
    want = sorted(
        (int(d), c, int(t), int(rm))
        for d, c, t, rm in _duck(substring_clean_oracle(n=5), texts)
    )
    assert got == want


def test_cross_engine_random(spark):
    """Random corpora with planted shared boilerplate, within-doc
    repeats and short docs, random (n, min_count): spans AND cleaned
    text vs the generated oracles."""
    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(25)]
    for _ in range(3):
        n = rng.randint(2, 6)
        min_count = rng.choice([2, 2, 3])
        boiler = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(n, 3 * n))
        )
        texts = {}
        for d in range(rng.randint(5, 30)):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 35))]
            if rng.random() < 0.5:
                ins = rng.randint(0, len(words))
                words[ins:ins] = boiler.split()
            if rng.random() < 0.15 and words:  # within-doc repeat
                words = words + words
            texts[d] = " ".join(words)
        got = _spark_spans(spark, texts, n=n, min_count=min_count)
        want = sorted(
            (int(d), int(s), int(e))
            for d, s, e, _ in _duck(
                substring_spans_oracle(n=n, min_count=min_count), texts
            )
        )
        assert got == want, (n, min_count, len(texts))
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got_c = sorted(
            (r["doc_id"], r["clean_text"], r["n_removed_tokens"])
            for r in substring_dedup_clean(
                df, n=n, min_count=min_count
            ).collect()
        )
        want_c = sorted(
            (int(d), c, int(rm))
            for d, c, _, rm in _duck(
                substring_clean_oracle(n=n, min_count=min_count), texts
            )
        )
        assert got_c == want_c, (n, min_count, len(texts))


def test_cross_engine_sf0001(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in substring_dedup_spans(docs, n=6).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(c), int(d))
        for a, b, c, d in con.execute(substring_spans_oracle(n=6)).fetchall()
    )
    assert got == want
    assert len(got) > 0  # the generator plants near-dup/boilerplate text


def test_validation():
    with pytest.raises(ValueError):
        substring_dedup_spans(None, n=0)
    with pytest.raises(ValueError):
        substring_dedup_spans(None, min_count=1)
