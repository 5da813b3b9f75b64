"""int8 scalar quantization: pure-Python reference equality for
bounds and per-vector code sums / errors, the exact-integer error
bound (2·err ≤ max span + 1),
codes' exact cross-engine hash (Spark == generated DuckDB oracle on
the sf0.001 embeddings), constant-dimension and dirty-vector
handling."""

from __future__ import annotations

import duckdb
import pytest

from survivor_processing_spark.operators.quantize import (
    sq8_bounds,
    sq8_summary,
    sq8_summary_oracle,
)

SF_DIR = "/root/testdata/sf0.001"


def _ref_codes(vecs, dim):
    """Pure-Python replay of the integer-lane SQ8 pipeline
    (math.floor mirrors Spark's floor() for negatives too)."""
    import math

    xq = [[math.floor(x * 1000000.0 + 0.5) for x in v] for v in vecs]
    mn = [min(v[d] for v in xq) for d in range(dim)]
    mx = [max(v[d] for v in xq) for d in range(dim)]
    span = [b - a for a, b in zip(mn, mx)]
    codes = [
        [
            0 if span[d] == 0 else ((v[d] - mn[d]) * 510 + span[d])
            // (2 * span[d])
            for d in range(dim)
        ]
        for v in xq
    ]
    return xq, mn, span, codes


def test_codes_match_python_reference(spark):
    vecs = [
        [0.0, 1.0, -0.5],
        [0.25, 1.0, 0.5],
        [1.0, 1.0, 0.125],  # dim 1 constant -> code 0
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    xq, mn, span, want = _ref_codes(vecs, 3)
    got = {
        r["vec_id"]: (r["code_sum"], r["max_err2"])
        for r in sq8_summary(df, dim=3).collect()
    }
    assert got == {
        i: (
            sum(want[i]),
            max(
                abs(510 * (xq[i][d] - mn[d]) - 2 * want[i][d] * span[d])
                for d in range(3)
            ),
        )
        for i in range(3)
    }
    assert sq8_bounds(df, "embedding", 3) == (
        mn,
        [m + s for m, s in zip(mn, span)],
    )
    # codes live in [0, 255] and hit both rails
    flat = [c for cs in want for c in cs]
    assert min(flat) == 0 and max(flat) == 255


def test_error_bound_holds_exactly(spark):
    """Random tables with one constant dimension: the summary equals
    the DuckDB oracle, every vector is within the bound, and the
    largest error equals the Python reference's."""
    import random

    import pandas as pd

    rng = random.Random(20260815)
    for _ in range(3):
        dim, n = rng.randint(2, 8), rng.randint(3, 200)
        const_dim = rng.randrange(dim)
        vecs = [[rng.uniform(-3, 3) for _ in range(dim)] for _ in range(n)]
        for v in vecs:
            v[const_dim] = 1.25
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
        rows = sorted(tuple(r) for r in sq8_summary(df, dim=dim).collect())
        con = duckdb.connect()
        con.register(
            "embeddings", pd.DataFrame({"vec_id": range(n), "embedding": vecs})
        )
        want = sorted(
            (int(a), int(b), int(c), bool(x))
            for a, b, c, x in con.execute(sq8_summary_oracle(dim=dim)).fetchall()
        )
        assert rows == want, (dim, n)
        assert len(rows) == n and all(r[3] for r in rows), (dim, n)
        xq, mn, span, codes = _ref_codes(vecs, dim)
        max_err2 = max(
            abs(510 * (v[d] - mn[d]) - 2 * codes[i][d] * span[d])
            for i, v in enumerate(xq)
            for d in range(dim)
        )
        assert max(r[2] for r in rows) == max_err2, (dim, n)


def test_dirty_vectors_quarantined(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),
            (2, None),
            (3, [0.5]),  # wrong dim
            (4, [0.5, None]),  # NULL lane
            (5, [1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = sorted(r["vec_id"] for r in sq8_summary(df, dim=2).collect())
    assert got == [1, 5]


def test_no_clean_vectors_raises(spark):
    df = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no clean vectors"):
        sq8_summary(df, dim=2)


def test_summary_matches_duckdb_oracle_sf0001(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = sorted(
        tuple(r) for r in sq8_summary(emb, dim=64).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(c), bool(d))
        for a, b, c, d in con.execute(
            sq8_summary_oracle(dim=64)
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want
    assert all(r[3] for r in got)  # every vector within the bound
