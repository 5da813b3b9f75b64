"""Embedding-space benchmark decontamination: planted contamination
(exact copies, scaled copies, near-paraphrase noise) is flagged and
clean vectors are not; Spark == generated DuckDB oracle on a planted
sf0.001 split; the train side never shuffles before the hit
aggregate (bench broadcast, plan-audited in test_plans_queued.py)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.operators.decontam import (
    semantic_decontaminate,
    semantic_decontaminate_oracle,
)

SF_DIR = "/root/testdata/sf0.001"
DIM = 4


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_planted_contamination_flagged(spark):
    v = [1.0, 0.0, 0.5, 0.25]
    w = [0.0, 1.0, -0.5, 0.25]
    bench = _df(spark, [(1, v), (2, w)])
    train = _df(
        spark,
        [
            (10, v),                                  # exact copy of 1
            (11, [2.0, 0.0, 1.0, 0.5]),               # scaled copy of 1
            (12, [1.0, 0.05, 0.52, 0.22]),            # near-paraphrase of 1
            (13, [-0.5, 0.0, 1.0, -1.0]),             # unrelated
            (14, [0.0, 1.02, -0.48, 0.27]),           # near-paraphrase of 2
            (15, None),                               # dirty: ignored
        ],
    )
    got = {
        r["vec_id"]: (r["eval_id"], r["dot"])
        for r in semantic_decontaminate(train, bench, dim=DIM).collect()
    }
    assert set(got) == {10, 11, 12, 14}
    assert got[10][0] == 1 and got[11][0] == 1 and got[12][0] == 1
    assert got[14][0] == 2
    # exact-copy dot is the integer squared norm of the planted vector
    assert got[10][1] == sum(int(x * 1000) ** 2 for x in v)


def test_threshold_is_exact_integer_boundary(spark):
    # cos(a, b) = 0.9 exactly at the num/den = 81/100 boundary:
    # a=(1,0), b=(0.9, sqrt(0.19)) is irrational — use lanes directly:
    # a=(3,4), b=(3,4) scaled -> cos 1; a=(1,0) vs b=(9, ~4.359)...
    # keep it rational: num/den = 1/4 (cos >= 0.5), a=(1,0), b=(1,1):
    # dot^2 * 4 = 4e12^2... lanes: a=(1000,0), b=(1000,1000):
    # dot=1e6, dot^2*4 = 4e12; n2a*n2b = 1e6*2e6 = 2e12 -> 4e12 >= 2e12: hit.
    a = _df(spark, [(1, [1.0, 0.0])])
    b = _df(spark, [(7, [1.0, 1.0])])
    hit = semantic_decontaminate(
        a, b, threshold_num=1, threshold_den=4, dim=2
    ).collect()
    assert len(hit) == 1 and hit[0]["eval_id"] == 7
    # and cos(45 deg) fails a 0.9 threshold
    miss = semantic_decontaminate(
        a, b, threshold_num=81, threshold_den=100, dim=2
    ).collect()
    assert miss == []


@pytest.mark.parametrize("seed, kernel_min_bench", [(0, 0), (1, 48)])
def test_random_planted_copies_match_oracle(spark, seed, kernel_min_bench):
    """Random train/bench sets with planted exact and scaled copies of
    bench vectors (always of the first) and random rational
    thresholds, on both pairing lanes (kernel_min_bench 0 forces the
    kernel, 48 the nested-loop join): Spark == the DuckDB oracle, and
    every non-zero planted copy is flagged."""
    rng = random.Random(seed)
    dim = rng.randrange(3, 9)
    num, den = rng.choice([(81, 100), (64, 100), (1, 4), (9, 16)])
    bench = [
        (100 + j, [rng.uniform(-2, 2) for _ in range(dim)])
        for j in range(rng.randrange(1, 6))
    ]
    train = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)])
        for i in range(rng.randrange(5, 40))
    ]
    planted = []
    for j, (bid, bv) in enumerate(bench):
        if j == 0 or rng.random() < 0.7:
            f = rng.choice([1.0, 0.5, 2.0])
            planted.append((1000 + bid, [x * f for x in bv]))
    train += planted
    got = sorted(
        tuple(int(x) for x in r)
        for r in semantic_decontaminate(
            _df(spark, train),
            _df(spark, bench),
            threshold_num=num,
            threshold_den=den,
            dim=dim,
            kernel_min_bench=kernel_min_bench,
        ).collect()
    )
    con = duckdb.connect()
    for name, rows in (("t_tbl", train), ("b_tbl", bench)):
        con.register(
            name,
            pd.DataFrame(
                {"vec_id": [i for i, _ in rows], "embedding": [v for _, v in rows]}
            ),
        )
    want = sorted(
        tuple(int(x) for x in r)
        for r in con.execute(
            semantic_decontaminate_oracle(
                "SELECT vec_id, embedding FROM t_tbl",
                "SELECT vec_id, embedding FROM b_tbl",
                threshold_num=num,
                threshold_den=den,
                dim=dim,
            )
        ).fetchall()
    )
    drawn = (seed, dim, (num, den), kernel_min_bench)
    assert got == want, drawn
    flagged = {t for t, _, _ in got}
    # a zero vector has no cosine (dot 0)
    missed = [
        pid
        for pid, pv in planted
        if any(abs(x) > 1e-6 for x in pv) and pid not in flagged
    ]
    assert not missed, (drawn, missed)


def test_matches_duckdb_oracle_on_planted_sf0001(spark):
    train_sql = (
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0 "
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
        "FROM embeddings WHERE vec_id % 10 = 0"
    )
    bench_sql = (
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    train = emb.filter(F.col("vec_id") % 10 != 0).unionByName(
        bench.select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    got = sorted(
        (r["vec_id"], r["eval_id"], r["dot"])
        for r in semantic_decontaminate(train, bench, dim=64).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                semantic_decontaminate_oracle(train_sql, bench_sql, dim=64)
            ).fetchall(),
        )
    )
    assert got == want
    # every planted copy is caught against ITS source
    planted = {t for t, _, _ in got if t >= 1000000}
    srcs = {r["vec_id"] for r in bench.collect()}
    assert planted == {s + 1000000 for s in srcs}
    for t, e, _ in got:
        if t >= 1000000:
            assert e == t - 1000000


def test_empty_bench_flags_nothing(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    none = emb.filter(F.lit(False))
    assert semantic_decontaminate(emb, none, dim=64).count() == 0


def test_lane_magnitude_guard_raises_before_overflow(spark):
    """ADVICE r09: lanes big enough that den*dot^2 could exceed int64
    must raise loudly (Cauchy-Schwarz bound on the quantized norm),
    never wrap under legacy mode."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    big = spark.createDataFrame(
        [(1, [50.0] * 64)], "vec_id long, embedding array<double>"
    )
    small = spark.createDataFrame(
        [(2, [0.1] * 64)], "vec_id long, embedding array<double>"
    )
    # |lane| = 50_000 at scale 1e3 -> n2 = 64 * 2.5e9 = 1.6e11 >
    # isqrt((2^63-1)/100) ~= 3.0e8: both sides must refuse it
    with pytest.raises(SparkRuntimeException, match="headroom"):
        semantic_decontaminate(big, small, dim=64).collect()
    with pytest.raises(SparkRuntimeException, match="headroom"):
        semantic_decontaminate(small, big, dim=64).collect()
    # vectors inside the bound still pass end-to-end
    assert semantic_decontaminate(small, small, dim=64).count() == 1


def test_lane_guard_catches_norm_wrap(spark):
    """Review catch: a lane with |q| large enough that q*q (or the
    running sum) wraps INSIDE the norm aggregate could slip a
    wrapped _n2 past the downstream norm bound — the guard must run
    on the lanes, below the norm, with wrap-proof comparisons."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    # |x| = 3.2e6 at scale 1e3 -> q ~ 3.2e9, q^2 ~ 1.0e19 > 2^63-1:
    # the SUM wraps, so a norm-level check sees garbage; the
    # lane-level check refuses before any multiplication
    huge = spark.createDataFrame(
        [(1, [3.2e6] * 64)], "vec_id long, embedding array<double>"
    )
    small = spark.createDataFrame(
        [(2, [0.1] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(SparkRuntimeException, match="headroom"):
        semantic_decontaminate(huge, small, dim=64).collect()
    with pytest.raises(SparkRuntimeException, match="headroom"):
        semantic_decontaminate(small, huge, dim=64).collect()
