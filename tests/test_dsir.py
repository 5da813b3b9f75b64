"""dsir_importance_weights (queued r12, operators/dsir.py): DSIR-style
hashed n-gram importance lanes (Xie et al. 2023) on the repo's exact
integer-lane discipline.  Spark == the generated DuckDB oracle on
fixed, randomized, and sf0.001 corpora; property contracts: a
target-like document outscores noise, short docs emit n_grams = 0
with NULL lanes, and the ratio cap binds."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.dsir import (
    dsir_importance_oracle,
    dsir_importance_weights,
)

SF = "/root/testdata/sf0.001"


def _spark_rows(spark, raw: dict, tgt: dict, **kw):
    raw_df = spark.createDataFrame(
        sorted(raw.items()), "doc_id long, text string"
    )
    tgt_df = spark.createDataFrame(
        sorted(tgt.items()), "doc_id long, text string"
    )
    return {
        r["doc_id"]: (r["n_grams"], r["weight_lane"], r["score_lane"])
        for r in dsir_importance_weights(raw_df, tgt_df, **kw).collect()
    }


def _duck_rows(raw: dict, tgt: dict, **kw):
    con = duckdb.connect()
    con.register(
        "raw_t",
        pd.DataFrame({"doc_id": list(raw), "text": list(raw.values())}),
    )
    con.register(
        "tgt_t",
        pd.DataFrame({"doc_id": list(tgt), "text": list(tgt.values())}),
    )
    sql = dsir_importance_oracle(
        "SELECT doc_id, text FROM raw_t",
        "SELECT doc_id, text FROM tgt_t",
        **kw,
    )
    out = {}
    for i, g, w, s in con.execute(sql).fetchall():
        out[int(i)] = (
            int(g),
            int(w) if w is not None else None,
            int(s) if s is not None else None,
        )
    return out


FIX_TGT = {
    100: "the quick brown fox jumps over the lazy dog",
    101: "the quick brown fox likes the quiet brown forest",
}
FIX_RAW = {
    1: "the quick brown fox jumps over the lazy dog",  # pure target
    2: "zzz qqq www eee rrr ttt yyy uuu",  # pure noise
    3: "the quick brown fox zzz qqq www eee",  # half and half
    4: "one",  # shorter than n=2: no grams
    5: None,  # NULL text: no grams
}


def test_fixed_cross_engine(spark):
    got = _spark_rows(spark, FIX_RAW, FIX_TGT)
    want = _duck_rows(FIX_RAW, FIX_TGT)
    assert got == want


def test_target_like_doc_outscores_noise(spark):
    got = _spark_rows(spark, FIX_RAW, FIX_TGT)
    s = {i: got[i][2] for i in got}
    # monotone tilt: pure-target > mixed > pure-noise
    assert s[1] > s[3] > s[2]
    # short/NULL docs: nothing to weigh, not weight zero
    assert got[4] == (0, None, None)
    assert got[5] == (0, None, None)


def test_ratio_cap_binds_and_replays(spark):
    # a tiny raw corpus against a huge repetition of one gram in the
    # target drives the uncapped ratio far beyond cap
    tgt = {100: " ".join(["alpha beta"] * 500)}
    raw = {1: "alpha beta", 2: "gamma delta"}
    kw = dict(ratio_cap=3, scale=1000)
    got = _spark_rows(spark, raw, tgt, **kw)
    assert got == _duck_rows(raw, tgt, **kw)
    assert got[1][2] == 3000  # capped at scale * ratio_cap exactly
    assert got[2][2] < 3000


@pytest.mark.parametrize("seed", [0, 1])
def test_randomized_cross_engine(spark, seed):
    """Raw docs drawn from a target or a disjoint noise vocabulary,
    with one planted doc of each; random (n, n_buckets, scale,
    ratio_cap); seed 0 persists the counts, seed 1 tokenizes twice."""
    rng = random.Random(seed)
    tgt_vocab = [f"t{i}" for i in range(rng.randint(4, 12))]
    noise_vocab = [f"n{i}" for i in range(rng.randint(4, 12))]

    def mk(vocab, k):
        return " ".join(rng.choice(vocab) for _ in range(k))

    raw = {
        i: mk(tgt_vocab if rng.random() < 0.5 else noise_vocab, rng.randint(0, 30))
        for i in range(rng.randint(5, 40))
    }
    raw[900] = mk(tgt_vocab, 20)
    raw[901] = mk(noise_vocab, 20)
    tgt = {i: mk(tgt_vocab, rng.randint(2, 30)) for i in range(rng.randint(2, 10))}
    kw = dict(
        n=rng.randint(1, 3),
        n_buckets=rng.choice([16, 64, 4096]),
        scale=rng.choice([1000, 1_000_000]),
        ratio_cap=rng.choice([2, 1000]),
    )
    got = _spark_rows(spark, raw, tgt, materialize=seed == 0, **kw)
    assert got == _duck_rows(raw, tgt, **kw), kw
    # monotone tilt, where nothing blurs it: few bucket collisions,
    # grams the target covers, and a permissive cap (a tight cap
    # squeezes the target lane below the noise lanes' floor)
    if kw["n_buckets"] == 4096 and kw["n"] <= 2 and kw["ratio_cap"] == 1000:
        s_t, s_n = got[900][2], got[901][2]
        assert s_t is None or s_n is None or s_t >= s_n, kw


def test_sf0001_cross_engine(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    raw = docs.select("doc_id", "text")
    tgt = docs.filter("lang = 'en'").select("doc_id", "text")
    got = sorted(
        map(tuple, dsir_importance_weights(raw, tgt).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF}/documents.parquet')"
    )
    want = sorted(
        tuple(
            int(v) if v is not None else None for v in row
        )
        for row in con.execute(
            dsir_importance_oracle(
                "SELECT doc_id, text FROM documents",
                "SELECT doc_id, text FROM documents WHERE lang = 'en'",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dsir_importance_weights(df, df, n=0)
    with pytest.raises(ValueError):
        dsir_importance_weights(df, df, n_buckets=1)
    with pytest.raises(ValueError):
        dsir_importance_weights(df, df, ratio_cap=0)
