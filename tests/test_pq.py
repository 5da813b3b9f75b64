"""Product quantization: pure-Python reference equality (independent
of both engines), cross-engine equality (Spark == generated DuckDB
oracle) on fixed/random/sf0.001 inputs, hygiene edges (NULL vectors,
NULL lanes, ragged lengths), and the compression contract (codes in
[0, k), recon_err decreasing in k)."""

from __future__ import annotations

import hashlib
import math
import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.pq import (
    pq_portable_oracle,
    pq_train_encode,
)

SF_DIR = "/root/testdata/sf0.001"


def _reference_pq(vectors, m, k, iters, dim=None):
    """Same semantics in pure Python: {id: (codes, recon_err)}."""
    clean = {
        i: v
        for i, v in vectors.items()
        if v is not None and all(x is not None for x in v)
    }
    if not clean:
        return {}
    if dim is None:  # dim = md5-smallest clean vector's length
        probe = min(
            clean, key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
        )
        dim = len(clean[probe])
    clean = {i: v for i, v in clean.items() if len(v) == dim}
    sub = dim // m
    q = {
        i: [int(math.floor(float(x) * 1e6 + 0.5)) for x in v]
        for i, v in clean.items()
    }
    seeds = sorted(
        q, key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )[:k]
    cents = {
        sp: {
            ci: q[s][sp * sub : (sp + 1) * sub]
            for ci, s in enumerate(seeds)
        }
        for sp in range(m)
    }

    def assign(sp, vec):
        best, bd = None, None
        for ci in sorted(cents[sp]):
            c = cents[sp][ci]
            d = sum((a - b) * (a - b) for a, b in zip(vec, c))
            if bd is None or d < bd:
                best, bd = ci, d
        return best, bd

    for _ in range(iters):
        sums = {}
        for i, vec in q.items():
            for sp in range(m):
                svec = vec[sp * sub : (sp + 1) * sub]
                ci, _ = assign(sp, svec)
                s, n = sums.setdefault(
                    (sp, ci), ([0] * sub, [0])
                )
                for j, x in enumerate(svec):
                    s[j] += x
                n[0] += 1
        cents = {sp: {} for sp in range(m)}
        for (sp, ci), (s, n) in sums.items():
            cents[sp][ci] = [x // n[0] for x in s]
    out = {}
    for i, vec in q.items():
        codes, err = [], 0
        for sp in range(m):
            ci, d = assign(sp, vec[sp * sub : (sp + 1) * sub])
            codes.append(ci)
            err += d
        out[i] = (codes, err)
    return out


def _spark_pq(spark, vectors, **kw):
    df = spark.createDataFrame(
        [(i, v) for i, v in vectors.items()],
        "vec_id long, embedding array<double>",
    )
    return {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in pq_train_encode(df, **kw).collect()
    }


def _duck_pq(vectors, **kw):
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": list(vectors), "embedding": list(vectors.values())}
        ),
    )
    return {
        int(i): ([int(c) for c in codes], int(err))
        for i, codes, err in con.execute(
            pq_portable_oracle(**kw)
        ).fetchall()
    }


def _rand_vectors(rng, n, dim):
    return {
        i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
    }


def test_pq_matches_reference_small(spark):
    rng = random.Random(3)
    vecs = _rand_vectors(rng, 20, 8)
    got = _spark_pq(spark, vecs, m=2, k=3, iters=2)
    want = _reference_pq(vecs, m=2, k=3, iters=2)
    assert got == want
    assert all(len(c) == 2 and all(0 <= x < 3 for x in c) for c, _ in got.values())


def test_pq_cross_engine_fixed(spark):
    rng = random.Random(11)
    vecs = _rand_vectors(rng, 40, 12)
    # planted duplicates: identical vectors must share codes, err 0-ish
    vecs[100] = list(vecs[0])
    got = _spark_pq(spark, vecs, m=3, k=4, iters=2)
    want = _duck_pq(vecs, m=3, k=4, iters=2, dim=12)
    assert got == want
    assert got[100] == got[0]


def test_pq_hygiene_edges(spark):
    rng = random.Random(5)
    vecs = _rand_vectors(rng, 15, 8)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()]
        + [(50, None), (51, [1.0] * 3), (52, [0.5] * 7 + [None])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in pq_train_encode(df, m=2, k=3, iters=1, dim=8).collect()
    }
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": list(vecs) + [50, 51, 52],
                "embedding": list(vecs.values())
                + [None, [1.0] * 3, [0.5] * 7 + [None]],
            }
        ),
    )
    want = {
        int(i): ([int(c) for c in codes], int(err))
        for i, codes, err in con.execute(
            pq_portable_oracle(m=2, k=3, iters=1, dim=8)
        ).fetchall()
    }
    assert out == want
    assert {50, 51, 52}.isdisjoint(out)  # all three quarantined


def test_pq_recon_err_decreases_with_k(spark):
    rng = random.Random(9)
    vecs = _rand_vectors(rng, 60, 8)
    errs = {}
    for k in (2, 8):
        out = _spark_pq(spark, vecs, m=2, k=k, iters=2)
        errs[k] = sum(e for _, e in out.values())
    assert errs[8] < errs[2]


def test_pq_cross_engine_random(spark):
    """Random (m, k, iters, dim) with a planted duplicate, a zero
    vector and hygiene poison (NULL vector, ragged, NULL lane): codes
    and recon_err vs the oracle and the reference, and the ADC top-k
    of a perturbed corpus vector vs its oracle."""
    rng = random.Random(23)
    for _ in range(2):
        m, sub = rng.choice([2, 3, 4]), rng.randint(2, 5)
        dim = m * sub
        n, k, iters = rng.randint(6, 40), rng.randint(2, 6), rng.randint(1, 3)
        vecs = _rand_vectors(rng, n, dim)
        vecs[1] = list(vecs[0])  # duplicate
        vecs[2] = [0.0] * dim  # zero vector
        vecs[900] = None
        vecs[901] = [1.0] * (dim + 1)
        vecs[902] = [0.5] * (dim - 1) + [None]
        kw = {"m": m, "k": k, "iters": iters}
        got = _spark_pq(spark, vecs, dim=dim, **kw)
        want = _duck_pq(vecs, dim=dim, **kw)
        ref = _reference_pq(vecs, dim=dim, **kw)
        assert got == want == ref, (n, dim, kw)
        query = [x + rng.uniform(-0.05, 0.05) for x in vecs[rng.randrange(n)]]
        got_a = _spark_adc(spark, vecs, query, topk=5, **kw)
        assert got_a == _duck_adc(vecs, query, topk=5, **kw), (n, dim, kw)


def test_pq_cross_engine_sf0001(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in pq_train_encode(
            emb, m=4, k=8, iters=2, dim=64
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = {
        int(i): ([int(c) for c in codes], int(err))
        for i, codes, err in con.execute(
            pq_portable_oracle(m=4, k=8, iters=2, dim=64)
        ).fetchall()
    }
    assert len(got) > 0
    assert got == want


def test_pq_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        pq_train_encode(df, m=3, dim=8)
    with pytest.raises(ValueError):
        pq_train_encode(df, m=0)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert pq_train_encode(empty, m=2, k=2).count() == 0


# ---- ADC top-k ------------------------------------------------------

from survivor_processing_spark.operators.pq import (  # noqa: E402
    pq_adc_topk,
    pq_adc_topk_oracle,
)


def _spark_adc(spark, vectors, query, **kw):
    df = spark.createDataFrame(
        [(i, v) for i, v in vectors.items()],
        "vec_id long, embedding array<double>",
    )
    return [
        (r["vec_id"], list(r["codes"]), r["adc_dist"])
        for r in pq_adc_topk(df, query, **kw).collect()
    ]


def _duck_adc(vectors, query, **kw):
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": list(vectors), "embedding": list(vectors.values())}
        ),
    )
    return [
        (int(i), [int(c) for c in codes], int(d))
        for i, codes, d in con.execute(
            pq_adc_topk_oracle(query, **kw)
        ).fetchall()
    ]


def test_adc_cross_engine_and_self_hit(spark):
    rng = random.Random(31)
    vecs = _rand_vectors(rng, 50, 12)
    query = list(vecs[7])  # plant the query itself in the corpus
    got = _spark_adc(spark, vecs, query, topk=5, m=3, k=4, iters=2)
    want = _duck_adc(vecs, query, topk=5, m=3, k=4, iters=2)
    assert got == want
    # ADC lower bound: for the planted copy adc == recon_err (same
    # assigned centroids, query == vector) and no vector can score
    # below it (adc_w >= sum of per-subspace minima = adc_self), so
    # the top distance equals it — other vectors sharing all three
    # codes tie and may outrank id 7 on the id tiebreak
    enc = _spark_pq(spark, vecs, m=3, k=4, iters=2)
    assert got[0][2] == enc[7][1]
    hit = [r for r in got if r[0] == 7]
    assert not hit or hit[0][2] == enc[7][1]


def test_adc_orders_by_distance_then_id(spark):
    rng = random.Random(13)
    vecs = _rand_vectors(rng, 30, 8)
    vecs[200] = list(vecs[3])  # duplicate -> identical adc, id ties
    query = list(vecs[3])
    got = _spark_adc(spark, vecs, query, topk=31, m=2, k=3, iters=1)
    want = _duck_adc(vecs, query, topk=31, m=2, k=3, iters=1)
    assert got == want
    dists = [d for _, _, d in got]
    assert dists == sorted(dists)
    # within a distance tie, ids ascend (total order both engines)
    for (i1, _, d1), (i2, _, d2) in zip(got, got[1:]):
        assert d1 < d2 or i1 < i2
    # the duplicate pair ties exactly, at the global minimum
    by_id = {i: d for i, _, d in got}
    assert by_id[3] == by_id[200] == got[0][2]


def test_adc_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        pq_adc_topk(df, [1.0] * 7, m=2)
    with pytest.raises(ValueError):
        pq_adc_topk(df, [1.0] * 8, m=2, topk=0)
    with pytest.raises(ValueError):
        pq_adc_topk(df, [1.0, None] * 4, m=2)
