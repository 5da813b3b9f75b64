"""URL canonicalization: hand-checkable canonical forms (case, default
ports, fragments, tracking params, param sort, trailing slashes),
pass-through for non-URLs, NULL propagation, and cross-engine
equality (Spark == generated DuckDB oracle) on fixed and randomized
URL corpora built from a metachar-heavy alphabet."""

from __future__ import annotations

import random

import duckdb

from survivor_processing_spark.operators.urlnorm import (
    url_canonicalize,
    url_canonicalize_oracle,
)


def _spark_canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r["url_canon"]
        for r in url_canonicalize(df).orderBy("url").collect()
    ]


def _duck_canon(urls):
    con = duckdb.connect()
    values = ", ".join(
        "(" + ("NULL" if u is None else "'" + u.replace("'", "''") + "'") + ")"
        for u in urls
    )
    src = f"SELECT * FROM (VALUES {values}) AS t(url)"
    return [
        r[1]
        for r in con.execute(
            url_canonicalize_oracle(src) + " ORDER BY url NULLS FIRST"
        ).fetchall()
    ]


CASES = {
    "HTTP://Site.com:80/a/?utm_source=x&b=1#frag": "http://site.com/a?b=1",
    "https://A.com:443/": "https://a.com",
    "https://a.com:8443/x": "https://a.com:8443/x",
    "http://a.com/p?z=1&a=2&fbclid=y": "http://a.com/p?a=2&z=1",
    "http://a.com/p/?": "http://a.com/p",
    "http://a.com": "http://a.com",
    "  http://a.com/x  ": "http://a.com/x",
    "not a url #frag": "not a url ",
    "ftp://Host/Path/": "ftp://host/Path",
    "http://a.com/?utm_campaign=1&utm_medium=2": "http://a.com",
    "http://a.com/p?ref=z&refx=1": "http://a.com/p?refx=1",
}


def test_hand_checkable(spark):
    urls = sorted(CASES)
    assert _spark_canon(spark, urls) == [CASES[u] for u in urls]


def test_cross_engine_fixed(spark):
    urls = sorted(CASES)
    assert _spark_canon(spark, urls) == _duck_canon(urls)


def test_null_propagates(spark):
    df = spark.createDataFrame([(None,)], "url string")
    assert url_canonicalize(df).collect()[0]["url_canon"] is None
    assert _duck_canon([None]) == [None]


def test_randomized_cross_engine(spark):
    rng = random.Random(20260815)
    frags = [
        "http://", "HTTPS://", "fTp://", "a.COM", "B.org", ":80", ":443",
        ":99", ":8080", "/p", "/P/", "?", "a=1", "&", "&&", "utm_x=2",
        "ref=3", "fbclid=9", "#f", "#f#g", "=", "x", "x y", ".", "//",
        "  ",
    ]
    for trial in range(4):
        urls = [
            None
            if rng.random() < 0.08
            else "".join(rng.choice(frags) for _ in range(rng.randrange(1, 9)))
            for _ in range(rng.randrange(2, 30))
        ]
        assert _spark_canon(spark, urls) == _duck_canon(urls), (trial, urls)
