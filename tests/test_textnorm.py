"""Unicode NFC normalization: planted composed/decomposed pairs,
cross-engine equality (Spark pandas-UDF NFC == generated DuckDB
nfc_normalize oracle) on fixed, adversarial, randomized, and
sf0.001 corpora, NULL/empty passthrough, and the dedup motivation
(decomposed twin hashes equal after normalization)."""

from __future__ import annotations

import random
import unicodedata

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.textnorm import (
    nfc_normalize_oracle,
    nfc_normalize_text,
)

SF_DIR = "/root/testdata/sf0.001"

FIXED = {
    1: "café society",  # e + combining acute -> é
    2: "café society",  # precomposed twin of 1
    3: "각",  # Hangul jamo -> composes to 각
    4: "ﬁn de siècle",  # ﬁ ligature is NFC-invariant
    5: "Ǻngström",  # stacked combining marks
    6: "plain ascii text",
    7: "",
    8: None,
}


def _spark_rows(spark, texts):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    return sorted(
        map(tuple, nfc_normalize_text(df).collect()),
        key=lambda r: r[0],
    )


def _duck_rows(texts):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())}
        ),
    )
    return sorted(
        map(tuple, con.execute(nfc_normalize_oracle()).fetchall()),
        key=lambda r: r[0],
    )


def test_fixed_cross_engine_and_semantics(spark):
    got = _spark_rows(spark, FIXED)
    assert got == _duck_rows(FIXED)
    by_id = {r[0]: r for r in got}
    # decomposed doc normalizes to its precomposed twin
    assert by_id[1][1] == by_id[2][1]
    assert by_id[1][2] is True and by_id[2][2] is False
    assert by_id[1][3] == by_id[1][4] + 1  # one mark composed away
    # jamo compose; ligature untouched; ascii untouched
    assert by_id[3][1] == unicodedata.normalize("NFC", FIXED[3])
    assert by_id[4][2] is False
    assert by_id[6] == (6, "plain ascii text", False, 16, 16)
    assert by_id[7] == (7, "", False, 0, 0)
    assert by_id[8] == (8, None, False, 0, 0)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_mark_soup_cross_engine(spark, seed):
    rng = random.Random(seed)
    bases = "aeiouAEIOU\u1100\u1161\uac00\u03b1\u03b2\u03b3"
    marks = ["\u0300", "\u0301", "\u0308", "\u030a", "\u0327", ""]
    texts = {}
    for i in range(rng.randint(2, 30)):
        r = rng.random()
        if r < 0.1:
            texts[i] = None
        elif r < 0.2:
            texts[i] = ""
        else:
            texts[i] = "".join(
                rng.choice(bases) + rng.choice(marks)
                for _ in range(rng.randint(1, 40))
            )
    assert _spark_rows(spark, texts) == _duck_rows(texts), seed


def test_sf0001_cross_engine(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    got = sorted(
        map(tuple, nfc_normalize_text(docs).collect()), key=lambda r: r[0]
    )
    assert got == _duck_rows(texts)


def test_normalization_unifies_hashes(spark):
    """The dedup motivation: md5 of the normalized twins agree."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "café"), (2, "café")], "doc_id long, text string"
    )
    hashes = {
        r["doc_id"]: r["h"]
        for r in nfc_normalize_text(df)
        .select("doc_id", F.md5("text_nfc").alias("h"))
        .collect()
    }
    assert hashes[1] == hashes[2]
