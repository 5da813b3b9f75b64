"""Exact-proportion stratified split: exact per-stratum counts vs
the closed-form floor formula, determinism across runs, full-cover
partition property, and cross-engine equality (Spark == generated
DuckDB oracle) on synthetic and sf0.001 corpora."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.curation import (
    stratified_exact_split,
    stratified_exact_split_oracle,
)

SF_DIR = "/root/testdata/sf0.001"
W = [("train", 8), ("val", 1), ("test", 1)]


def _expected_counts(n, weights=W):
    """floor cut points: split j gets floor(n*cum_j/W) - floor(n*cum_{j-1}/W)."""
    total = sum(w for _, w in weights)
    out, prev = {}, 0
    cum = 0
    for name, w in weights[:-1]:
        cum += w
        cut = n * cum // total
        out[name] = cut - prev
        prev = cut
    out[weights[-1][0]] = n - prev
    return out


def test_exact_counts_hand(spark):
    rows = [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_exact_split(df, ["lang"], "doc_id").collect()
    got = {}
    for r in out:
        got.setdefault(r["lang"], {}).setdefault(r["split"], 0)
        got[r["lang"]][r["split"]] += 1
    assert got["a"] == {"train": 8, "val": 1, "test": 1}
    # n=3: floor cuts 2/0, leftovers to the last split
    assert got["b"] == {"train": 2, "test": 1}


def test_partition_and_determinism(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.choice(["x", "y", "z"])) for i in range(137)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = {
        (r["doc_id"], r["split"])
        for r in stratified_exact_split(df, ["lang"], "doc_id").collect()
    }
    b = {
        (r["doc_id"], r["split"])
        for r in stratified_exact_split(df, ["lang"], "doc_id").collect()
    }
    assert a == b  # deterministic, no rand()
    assert len(a) == 137  # every row assigned exactly once
    per = {}
    for r in stratified_exact_split(df, ["lang"], "doc_id").collect():
        per.setdefault(r["lang"], []).append(r["split"])
    for lang, splits in per.items():
        n = len(splits)
        want = _expected_counts(n)
        got = {s: splits.count(s) for s in set(splits)}
        assert got == {k: v for k, v in want.items() if v}, lang


def test_cross_engine_synthetic(spark):
    """Random strata distributions (1-row and hot strata included) and
    random weight vectors: per-(stratum, split) counts vs the oracle
    and the floor-count formula."""
    import pyspark.sql.functions as F

    rng = random.Random(19)
    for _ in range(3):
        langs = [f"l{i}" for i in range(rng.randint(1, 6))]
        rows = [(i, rng.choice(langs)) for i in range(rng.randint(1, 300))]
        weights = [(f"s{j}", rng.randint(1, 9)) for j in range(rng.randint(1, 4))]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = sorted(
            (r["lang"], r["split"], r["n_docs"])
            for r in stratified_exact_split(
                df, ["lang"], "doc_id", weights=weights
            )
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"))
            .collect()
        )
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "lang"])
        )
        want = sorted(
            (a, b, int(c))
            for a, b, c in con.execute(
                stratified_exact_split_oracle(["lang"], weights=weights)
            ).fetchall()
        )
        assert got == want, (len(rows), weights)
        per_lang = {}
        for lang, split, c in got:
            per_lang.setdefault(lang, {})[split] = c
        for lang, counts in per_lang.items():
            expect = _expected_counts(sum(counts.values()), weights)
            assert counts == {k: v for k, v in expect.items() if v}, (
                lang,
                weights,
            )


def test_cross_engine_sf0001_custom_weights(spark):
    import pyspark.sql.functions as F

    weights = [("train", 3), ("holdout", 1)]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(
        (r["lang"], r["source"], r["split"], r["n_docs"])
        for r in stratified_exact_split(
            docs, ["lang", "source"], "doc_id", weights=weights
        )
        .groupBy("lang", "source", "split")
        .agg(F.count("*").alias("n_docs"))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        (a, b, c, int(d))
        for a, b, c, d in con.execute(
            stratified_exact_split_oracle(
                ["lang", "source"], weights=weights
            )
        ).fetchall()
    )
    assert got == want
    # exact 3:1 within every stratum (floor semantics)
    by_stratum = {}
    for lang, src, split, n in got:
        by_stratum.setdefault((lang, src), {})[split] = n
    for counts in by_stratum.values():
        n = sum(counts.values())
        assert counts.get("train", 0) == n * 3 // 4


def test_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        stratified_exact_split(df, ["lang"], "doc_id", weights=[])
    with pytest.raises(ValueError):
        stratified_exact_split(
            df, ["lang"], "doc_id", weights=[("a", 0), ("b", 1)]
        )
