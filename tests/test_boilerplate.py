"""strip_boilerplate_paragraphs (queued r12, operators/dedup.py):
document-frequency paragraph stripping — the CCNet/RefinedWeb
boilerplate pass, complement of the keep-first paragraph dedup.
Spark == the generated DuckDB oracle on fixed, randomized, and
sf0.001 corpora; properties: a banner in >= min_docs docs vanishes
from ALL of them, content below the cut survives everywhere, and
the keep-first dedup and the boilerplate strip commute on disjoint
paragraph sets."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.dedup import (
    boilerplate_strip_oracle,
    strip_boilerplate_paragraphs,
)

SF = "/root/testdata/sf0.001"


def _spark_rows(spark, texts: dict, **kw):
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    return {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_clean"])
        for r in strip_boilerplate_paragraphs(
            df, "text", "doc_id", delim="\n", **kw
        ).collect()
    }


def _duck_rows(texts: dict, **kw):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
    )
    return {
        int(i): (int(p), int(k), t)
        for i, p, k, t in con.execute(
            boilerplate_strip_oracle(**kw)
        ).fetchall()
    }


BANNER = "accept all cookies"
FIX = {
    1: f"{BANNER}\nunique content one\nall rights reserved",
    2: f"{BANNER}\nunique content two\nall rights reserved",
    3: f"{BANNER}\nunique content three",
    4: "an island document",
    5: BANNER,  # pure boilerplate
    6: None,  # NULL text: nothing to strip, not an empty result
    7: "",  # empty string: ONE empty paragraph (df=1, survives)
}


def test_fixed_cross_engine_and_semantics(spark):
    got = _spark_rows(spark, FIX, min_docs=3)
    assert got == _duck_rows(FIX, min_docs=3)
    # the 3-doc banner vanishes from every doc, incl. its first
    for d in (1, 2, 3):
        assert BANNER not in got[d][2]
    # the 2-doc footer is BELOW the cut: it survives
    assert "all rights reserved" in got[1][2]
    assert "all rights reserved" in got[2][2]
    # a pure-boilerplate doc empties, an island is untouched
    assert got[5] == (1, 0, "")
    assert got[4] == (1, 1, "an island document")
    # NULL text: (0, 0, NULL) on BOTH engines (Spark's split(NULL)
    # and DuckDB's unnest(NULL) disagree row-wise — handled
    # explicitly); empty string is one real empty paragraph
    assert got[6] == (0, 0, None)
    assert got[7] == (1, 1, "")


def test_within_doc_repeats_do_not_count(spark):
    # one doc repeating a paragraph 10 times is NOT boilerplate
    # (document frequency is DISTINCT docs)
    texts = {1: "\n".join(["ad nauseam"] * 10), 2: "other"}
    got = _spark_rows(spark, texts, min_docs=2)
    assert got == _duck_rows(texts, min_docs=2)
    assert got[1][1] == 10  # all kept


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_cross_engine(spark, seed):
    rng = random.Random(seed)
    pool = [f"para {i}" for i in range(rng.randint(5, 20))]
    texts = {
        d: "\n".join(
            rng.choice(pool) for _ in range(rng.randint(0, 8))
        )
        if rng.random() > 0.1
        else None  # NULL docs ride along
        for d in range(rng.randint(3, 30))
    }
    min_docs = rng.choice([2, 3, 5])
    got = _spark_rows(spark, texts, min_docs=min_docs)
    assert got == _duck_rows(texts, min_docs=min_docs), (seed, min_docs)
    # a paragraph survives iff fewer than min_docs distinct docs hold it
    dfreq: dict[str, set] = {}
    for d, t in texts.items():
        for para in (t or "").split("\n") if t is not None else ():
            dfreq.setdefault(para, set()).add(d)
    for d, t in texts.items():
        if t is None:
            assert got[d] == (0, 0, None), d
            continue
        kept = [p for p in t.split("\n") if len(dfreq[p]) < min_docs]
        assert got[d][2] == "\n".join(kept), (seed, d)


def test_commutes_with_keep_first_on_disjoint_sets(spark):
    from survivor_processing_spark.operators.dedup import dedup_paragraphs

    texts = {
        1: f"{BANNER}\ncontent a\ncontent shared",
        2: f"{BANNER}\ncontent b\ncontent shared",
        3: f"{BANNER}\ncontent c",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    # strip-then-dedup
    stripped = strip_boilerplate_paragraphs(
        df, "text", "doc_id", min_docs=3, delim="\n"
    ).selectExpr("doc_id", "text_clean AS text")
    a = {
        r["doc_id"]: r["text_dedup"]
        for r in dedup_paragraphs(stripped, "text", "doc_id", "\n").collect()
    }
    # 'content shared' (df=2 < 3) deduped to its first copy; banner gone
    assert a[1] == "content a\ncontent shared"
    assert a[2] == "content b"
    assert a[3] == "content c"


def test_sf0001_cross_engine(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # derive paragraph breaks deterministically (the paragraph_dedup
    # gate's trick — the synthetic corpus has no newlines)
    import pyspark.sql.functions as F

    d = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text"),
    )
    got = sorted(
        map(
            tuple,
            strip_boilerplate_paragraphs(
                d, "text", "doc_id", min_docs=3, delim="\n"
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW raw_docs AS SELECT * FROM"
        f" read_parquet('{SF}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW documents AS SELECT doc_id,"
        " replace(text, ' the ', chr(10)) AS text FROM raw_docs"
    )
    want = sorted(
        (int(i), int(p), int(k), t)
        for i, p, k, t in con.execute(
            boilerplate_strip_oracle(min_docs=3)
        ).fetchall()
    )
    assert got == want and len(got) > 0
    # the derived corpus really contains boilerplate at this cut
    assert any(k < p for _, p, k, _ in got)


def test_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        strip_boilerplate_paragraphs(df, "text", "doc_id", min_docs=1)
