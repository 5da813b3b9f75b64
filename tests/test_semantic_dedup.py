"""semantic_dedup_portable (SemDeDup-style, Abbas et al. 2023):
planted-duplicate removal, (md5,id) keeper rule, vector hygiene,
per-cluster cap, empty input, and the int64-safety envelope the
1e3 quantization grid documents."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
import pyspark.sql.functions as F
import pytest

from registered_query import run_registered
from survivor_processing_spark.operators.similarity import (
    semantic_dedup_portable,
)


def _md5(i: int) -> str:
    return hashlib.md5(str(i).encode()).hexdigest()


def test_planted_duplicate_removed_keeper_by_md5(spark):
    # two exact duplicates + two far-apart singles; the duplicate
    # with the LARGER (md5, id) rank must be removed, its dup_of
    # pointing at the kept twin
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),  # exact dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_portable(df, k=2, dim=3).collect()
    assert len(out) == 1
    removed = out[0]
    keep, drop = (1, 2) if (_md5(1), 1) < (_md5(2), 2) else (2, 1)
    assert removed["vec_id"] == drop
    assert removed["dup_of"] == keep


def test_orthogonal_vectors_not_deduped(spark):
    rows = [(i, [float(j == i) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_dedup_portable(df, k=2, dim=4).count() == 0


def test_negative_dot_never_dedupes(spark):
    # anti-parallel vectors have cos = -1: dot^2 clears the squared
    # threshold, so the dot > 0 sign guard is load-bearing
    rows = [(1, [1.0, 0.0]), (2, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_dedup_portable(df, k=1, dim=2).count() == 0


def test_vector_hygiene_quarantined(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [9.0, 9.0]),  # short
        (4, [9.0, 9.0, 9.0, 9.0]),  # long
        (5, None),  # NULL vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_portable(df, k=2, dim=3).collect()
    assert {r["vec_id"] for r in out} <= {1, 2}
    assert len(out) == 1


def test_dim_none_derived_from_md5_smallest(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [9.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = semantic_dedup_portable(df, k=2).collect()
    b = semantic_dedup_portable(df, k=2, dim=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_max_cluster_cap_bounds_pairs(spark):
    # 10 exact copies in one cluster; cap=1 leaves a single member
    # per cluster -> no pairs, nothing removed (the oracle replays
    # the same truncation)
    rows = [(i, [1.0, 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_dedup_portable(df, k=1, dim=2, max_cluster=1).count() == 0
    assert semantic_dedup_portable(df, k=1, dim=2).count() == 9


def test_empty_input_schema(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup_portable(df, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id",
        "cluster_idx",
        "dup_of",
    ]


def test_int64_envelope_at_abs_two(spark):
    # documented safety bound: |x| <= 2 at scale 1e3, dim 64,
    # den 100 keeps den*dot^2 inside int64 — run at the envelope
    # edge and check the exact-dup is still detected (an overflow
    # would wrap the comparison and silently flip it)
    v = [2.0] * 64
    w = [-2.0] * 64
    rows = [(1, v), (2, list(v)), (3, w)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_portable(df, k=2, dim=64).collect()
    assert len(out) == 1
    assert {out[0]["vec_id"], out[0]["dup_of"]} == {1, 2}


def test_registered_query_plants_and_removes(spark, sf_dir):
    from survivor_processing_spark.queries.llm_dedup import (
        semantic_dedup_portable as q,
    )

    out = q(spark, sf_dir).toPandas()
    # every removal pairs a planted copy (id >= 10M) with its source
    # or vice versa; at sf0.001 nothing natural clears cosine 0.9
    assert len(out) > 0
    for _, r in out.iterrows():
        a, b = int(r["vec_id"]), int(r["dup_of"])
        assert abs(a - b) == 10000000


@pytest.mark.parametrize("seed", [0, 1])
def test_registered_query_matches_oracle_on_random_corpora(spark, seed):
    """Random 64-dim corpora with a planted exact duplicate, a NULL
    vector and a ragged one, through the registered query (which plants
    its own scaled copies): seed choice, integer argmin assignment, the
    per-cluster cap and the sqrt-free cosine test vs the oracle."""
    rng = random.Random(seed)
    n = rng.randint(3, 40)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(n)]
    if n > 5:
        vecs[2] = list(vecs[0])  # cos 1: the md5 keeper rule decides
        vecs[4] = None  # quarantined on both engines
        vecs[5] = vecs[5][:32]  # ragged: quarantined on both engines
    got, want = run_registered(
        spark,
        "semantic_dedup_portable",
        "embeddings",
        pd.DataFrame({"vec_id": range(n), "embedding": vecs}),
    )
    assert got == want, (seed, n)
