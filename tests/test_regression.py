"""Exact-rational grouped OLS: closed-form equality on known lines,
rational-vs-float agreement with a pure-Python fit, degenerate
groups, NULL hygiene, and cross-engine equality (Spark == generated
DuckDB oracle) on random and sf0.001-events inputs."""

from __future__ import annotations

import random
from fractions import Fraction

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.regression import (
    ols_trend_exact,
    ols_trend_oracle,
)

SF_DIR = "/root/testdata/sf0.001"


def _spark_fit(spark, rows, scale=1000):
    df = spark.createDataFrame(rows, "g string, x double, y double")
    return {
        r["g"]: (
            r["n_points"],
            r["sx"],
            r["sy"],
            r["slope_num"],
            r["slope_den"],
            r["syy_c"],
        )
        for r in ols_trend_exact(df, ["g"], "x", "y", scale).collect()
    }


def _duck_fit(rows, scale=1000):
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["g", "x", "y"]))
    return {
        g: tuple(int(v) for v in rest)
        for g, *rest in con.execute(
            ols_trend_oracle(["g"], "x", "y", scale)
        ).fetchall()
    }


def test_perfect_line_recovered(spark):
    # y = 2x + 3 exactly on the grid
    rows = [("a", float(x), 2.0 * x + 3.0) for x in range(10)]
    got = _spark_fit(spark, rows)
    n, gsx, gsy, sn, sd, syy = got["a"]
    assert n == 10
    assert Fraction(sn, sd) == 2
    # intercept from the moments, exactly: 3 on the RAW scale (the
    # rational is in grid units; slope is unit-free, the intercept
    # carries one grid factor)
    icept = (Fraction(gsy) * sd - Fraction(sn) * gsx) / (n * sd)
    assert icept == 3 * 1000
    # a perfect line: R^2 = sn^2/(sd*syy) exactly 1
    assert Fraction(sn, 1) ** 2 == Fraction(sd) * syy
    assert got == _duck_fit(rows)


def test_matches_float_least_squares(spark):
    rng = random.Random(11)
    rows = [
        ("g1", rng.uniform(-5, 5), rng.uniform(-5, 5)) for _ in range(40)
    ] + [("g2", rng.uniform(0, 9), rng.uniform(0, 9)) for _ in range(25)]
    got = _spark_fit(spark, rows)
    assert got == _duck_fit(rows)
    for g in ("g1", "g2"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        _, gsx, gsy, sn, sd, syyc = got[g]
        assert abs(sn / sd - slope) < 5e-3  # 1e-3 grid rounding
        icept = (sy - slope * sx) / n
        got_icept = float(
            (Fraction(gsy) * sd - Fraction(sn) * gsx) / (n * sd)
        )
        assert abs(got_icept / 1000 - icept) < 5e-3
        r2 = (n * sxy - sx * sy) ** 2 / (
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        got_r2 = float(Fraction(sn) ** 2 / (Fraction(sd) * syyc))
        assert abs(got_r2 - r2) < 5e-3 and 0 <= got_r2 <= 1


def test_degenerate_groups(spark):
    rows = [
        ("one_point", 1.0, 5.0),
        ("same_x", 2.0, 1.0),
        ("same_x", 2.0, 9.0),
        ("same_y", 1.0, 4.0),
        ("same_y", 3.0, 4.0),
    ]
    got = _spark_fit(spark, rows)
    assert got == _duck_fit(rows)
    assert got["one_point"][3:5] == (0, 0)  # 0/0 slope, deterministic
    assert got["same_x"][3:5] == (0, 0)
    assert got["same_y"][5] == 0  # constant y: syy_c 0, R^2 0/0
    assert got["same_y"][3] == 0  # flat line: slope numerator 0


def test_null_hygiene(spark):
    rows = [
        ("a", 1.0, 1.0),
        ("a", 2.0, None),
        ("a", None, 3.0),
        ("a", 3.0, 3.0),
    ]
    got = _spark_fit(spark, rows)
    assert got == _duck_fit(rows)
    assert got["a"][0] == 2  # only the two complete points count


def test_cross_engine_random_scales(spark):
    """Random grouped point clouds with planted perfect lines,
    constant-x and single-point groups, NULLs and random scales."""
    rng = random.Random(43)
    for _ in range(3):
        scale = rng.choice([1, 10, 100, 1000])
        rows = []
        for g in range(rng.randint(1, 5)):
            kind, npts = rng.random(), rng.randint(1, 60)
            if kind < 0.2:  # perfect line
                a, b = rng.randint(-3, 3), rng.randint(-5, 5)
                rows += [(f"g{g}", float(x), float(a * x + b)) for x in range(npts)]
            elif kind < 0.3:  # constant x
                rows += [(f"g{g}", 2.0, rng.uniform(-5, 5)) for _ in range(npts)]
            else:
                rows += [
                    (f"g{g}", rng.uniform(-8, 8), rng.uniform(-8, 8))
                    for _ in range(npts)
                ]
        if rng.random() < 0.4:
            rows += [("g0", None, 1.0), ("g0", 1.0, None)]
        assert _spark_fit(spark, rows, scale) == _duck_fit(rows, scale), (
            scale,
            len(rows),
        )


def test_cross_engine_sf0001_events(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # scale=10 keeps the intercept numerator (which squares the
    # moment envelope) inside int64 for ~200-row groups of |y|<=330
    df = ev.selectExpr(
        "event_type AS g",
        "cast(user_id % 100 as double) AS x",
        "value AS y",
    )
    got = {
        r["g"]: (
            r["n_points"],
            r["sx"],
            r["sy"],
            r["slope_num"],
            r["slope_den"],
            r["syy_c"],
        )
        for r in ols_trend_exact(df, ["g"], "x", "y", scale=10).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT event_type AS g,"
        " CAST(user_id % 100 AS DOUBLE) AS x, value AS y"
        f" FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want = {
        g: tuple(int(v) for v in rest)
        for g, *rest in con.execute(
            ols_trend_oracle(["g"], "x", "y", scale=10)
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_validation(spark):
    df = spark.createDataFrame([("a", 1.0, 1.0)], "g string, x double, y double")
    with pytest.raises(ValueError):
        ols_trend_exact(df, [], "x", "y")
    with pytest.raises(ValueError):
        ols_trend_exact(df, ["g"], "x", "y", scale=0)
