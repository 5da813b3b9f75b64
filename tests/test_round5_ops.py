"""Round-5 additions: auto-sized Bloom filters, the real HTTP REST
fetcher, the stdlib PNG codec, quarantine inspection, exact-config IVF."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.operators.bloom import (
    auto_num_bits,
    bloom_semi_join,
)
from survivor_processing_spark.queries import REGISTRY
from survivor_processing_spark.sources.rest import (
    _synthetic_fetcher,
    make_http_fetcher,
    paged_fetch,
    resolve_fetcher,
)

# --- bloom auto-sizing ------------------------------------------------------


def test_auto_num_bits_scaling():
    """~10 bits/key, power-of-two, clamped: the sizing rule VERDICT
    r04 asked for so the filter never silently degrades."""
    assert auto_num_bits(0) == 1 << 14
    assert auto_num_bits(1000) == 1 << 14  # min clamp
    assert auto_num_bits(10_000) == 1 << 17  # 100k bits -> 131072
    assert auto_num_bits(100_000) == 1 << 20
    assert auto_num_bits(1_000_000) == 1 << 24
    assert auto_num_bits(10**12) == 1 << 27  # max clamp
    for n in (1, 5_000, 77_777, 123_456_789):
        bits = auto_num_bits(n)
        assert bits & (bits - 1) == 0  # power of two


def test_bloom_semi_join_auto_sized_exact(spark):
    """num_bits=None (count-driven sizing) returns exactly the plain
    semi join's rows, like any explicit sizing."""
    fact = spark.range(0, 5000).select((F.col("id") % 700).alias("k"),
                                       F.col("id").alias("payload"))
    dim = spark.createDataFrame([(k,) for k in range(0, 700, 13)], "dk long")
    got = sorted(
        (r.k, r.payload)
        for r in bloom_semi_join(fact, dim, "k", "dk", num_bits=None).collect()
    )
    want = sorted(
        (i % 700, i) for i in range(5000) if (i % 700) % 13 == 0
    )
    assert got == want


def test_bloom_filter_subquery_matches_literal(spark):
    """The scalar-subquery materialization admits exactly the same
    keys as the driver-folded literal (same words, same probes), and
    an EMPTY key set rejects everything (all-zero filter)."""
    from survivor_processing_spark.operators.bloom import (
        bloom_filter_literal,
        bloom_filter_subquery,
        might_contain,
    )

    keys = spark.range(0, 500).select((F.col("id") * 31 + 7).alias("k"))
    probe = spark.range(0, 20_000).select(F.col("id").alias("k"))
    bits = 1 << 14
    sub = bloom_filter_subquery(keys, "k", bits, 4)
    lit = bloom_filter_literal(keys, "k", bits, 4)
    got_sub = sorted(
        r.k for r in probe.filter(might_contain(sub, F.col("k"), bits, 4)).collect()
    )
    got_lit = sorted(
        r.k for r in probe.filter(might_contain(lit, F.col("k"), bits, 4)).collect()
    )
    assert got_sub == got_lit
    empty = keys.filter(F.lit(False))
    none = bloom_filter_subquery(empty, "k", bits, 4)
    assert probe.filter(might_contain(none, F.col("k"), bits, 4)).count() == 0


# --- HTTP REST fetcher ------------------------------------------------------


class _ApiHandler(BaseHTTPRequestHandler):
    """Local keyset API over the synthetic dataset: the integration
    shape reference reddit_extract.py:47-83 consumed (pushshift
    ``{"data": [...]}`` envelope)."""

    fail_first = 0  # per-server: fail the first N requests with a 500

    def do_GET(self):  # noqa: N802 - http.server API
        q = parse_qs(urlparse(self.path).query)
        if type(self).fail_first > 0:
            type(self).fail_first -= 1
            self.send_error(500, "transient")
            return
        page = _synthetic_fetcher(
            q["type"][0], int(q["after"][0]), int(q["limit"][0])
        )
        body = json.dumps({"data": page}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture()
def api_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ApiHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/api"
    srv.shutdown()


def test_http_fetcher_pages_match_synthetic(api_server):
    """The real urllib fetcher through the real HTTP stack yields the
    byte-identical record stream the in-process fetcher does."""
    fetcher = make_http_fetcher(api_server)
    via_http = list(
        paged_fetch(fetcher, "comment", 1_600_000_000, 1_600_000_600, 50)
    )
    direct = list(
        paged_fetch(
            _synthetic_fetcher, "comment", 1_600_000_000, 1_600_000_600, 50
        )
    )
    assert via_http == direct and len(direct) == 10


def test_http_fetcher_survives_transient_500(api_server):
    """paged_fetch's bounded retry loop (reference
    reddit_extract.py:61-73) absorbs transient server errors."""
    _ApiHandler.fail_first = 2
    try:
        fetcher = make_http_fetcher(api_server)
        got = list(
            paged_fetch(
                fetcher, "submission", 1_600_000_000, 1_600_000_300, 3,
                max_retries=5, sleep_s=0.0,
            )
        )
    finally:
        _ApiHandler.fail_first = 0
    # keyset cursor is exclusive: first record is start + step
    assert [r["created_utc"] for r in got] == [
        1_600_000_060 + 60 * i for i in range(5)
    ]


def test_rest_datasource_with_http_url(spark, api_server):
    """End-to-end: the Spark DataSource resolves an http:// fetcher
    name inside the Python worker and reads the same rows as the
    synthetic path (rest_keyset_scan's registered semantics)."""
    from survivor_processing_spark.sources import register_rest_source

    register_rest_source(spark)

    def scan(fetcher_name):
        return sorted(
            (r.entity_type, r.id, r.created_utc)
            for r in (
                spark.read.format("rest_keyset")
                .option("fetcher", fetcher_name)
                .option("types", "submission,comment")
                .option("start", "1600000000")
                .option("stop", "1600000600")
                .load()
                .collect()
            )
        )

    assert scan(api_server) == scan("synthetic")


def test_resolve_fetcher_unknown_name():
    with pytest.raises(KeyError):
        resolve_fetcher("nope")


def test_cache_bounded_unpersists_previous(spark):
    """cache_bounded keeps at most ONE live cached copy per key —
    re-caching under the same key unpersists the predecessor (which
    stays usable via lazy recompute)."""
    from survivor_processing_spark.operators.dedup import cache_bounded

    a = cache_bounded("_t_bounded", spark.range(0, 10))
    assert a.count() == 10 and a.storageLevel.useMemory
    b = cache_bounded("_t_bounded", spark.range(0, 20))
    assert b.count() == 20 and b.storageLevel.useMemory
    assert not a.storageLevel.useMemory  # predecessor released
    assert a.count() == 10  # still correct via recompute


class _ErrorBodyHandler(BaseHTTPRequestHandler):
    """HTTP 200 with a dict payload lacking 'data' — the error-JSON
    shape that must NOT be retried."""

    hits = 0

    def do_GET(self):  # noqa: N802 - http.server API
        type(self).hits += 1
        body = json.dumps({"error": "rate limited"}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_http_fetcher_permanent_error_not_retried():
    from survivor_processing_spark.sources.rest import PermanentFetchError

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ErrorBodyHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        fetcher = make_http_fetcher(
            f"http://127.0.0.1:{srv.server_address[1]}/api"
        )
        _ErrorBodyHandler.hits = 0
        with pytest.raises(PermanentFetchError):
            list(paged_fetch(fetcher, "comment", 0, None, 10, max_retries=10))
        assert _ErrorBodyHandler.hits == 1  # no retry burn
    finally:
        srv.shutdown()


# --- distributed HTML crawl -------------------------------------------------


_PAGES = {
    "/index.html": (
        '<ul><li><a href="/wiki/alpha">Alpha</a></li>'
        '<li><a href="/wiki/beta">Beta</a></li>'
        '<li><a href="/other/x">skip me</a></li></ul>'
    ),
    "/wiki/alpha": '<div data-source="winner"><b>Alice</b> won</div>',
    "/wiki/beta": '<div data-source="winner">Bob  won</div>',
}


class _PageHandler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - http.server API
        body = _PAGES.get(urlparse(self.path).path)
        if body is None:
            self.send_error(404)
            return
        data = body.encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):
        pass


@pytest.fixture()
def page_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _PageHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetch_pages_distributed_crawl(spark, page_server):
    """The full A4 shape over a real HTTP stack: driver fetches the
    seed link list, executors fetch + parse the child pages via
    mapInPandas; a dead URL quarantines as status=-1 instead of
    failing the task."""
    from survivor_processing_spark.sources.html import (
        extract_data_sources,
        extract_links,
        fetch_pages,
        fetch_url,
    )

    status, seed = fetch_url(f"{page_server}/index.html")
    assert status == 200
    links = extract_links(seed, href_prefix="/wiki/")
    assert [t for _, t in links] == ["Alpha", "Beta"]

    urls = spark.createDataFrame(
        [(f"{page_server}{href}",) for href, _ in links]
        + [(f"{page_server}/missing",)],
        "url string",
    )
    got = {r.url.rsplit("/", 1)[-1]: r
           for r in fetch_pages(urls, fetch_partitions=2).collect()}
    assert got["missing"].status == 404 and got["missing"].html is None
    winners = {
        k: extract_data_sources(v.html)["winner"]
        for k, v in got.items() if v.status == 200
    }
    assert winners == {"alpha": "Alice won", "beta": "Bob won"}


# --- stdlib PNG codec -------------------------------------------------------


def test_png_codec_roundtrip_and_filters():
    """The stdlib PNG codec round-trips pixels exactly and unfilters
    every scanline filter type (hand-built filtered IDATs with known
    pixel expectations)."""
    import struct
    import zlib

    from survivor_processing_spark.operators.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
        png_decode,
        png_encode,
    )

    # RGB gradient roundtrip
    w, h = 5, 3
    px = bytes((x * 50 + y * 10 + c) & 0xFF
               for y in range(h) for x in range(w) for c in range(3))
    got = png_decode(png_encode(w, h, 3, px))
    assert got == (w, h, 3, px)

    def hand_png(filters_and_rows, width, nch, colortype):
        raw = b"".join(bytes([f]) + bytes(r) for f, r in filters_and_rows)
        ihdr = struct.pack(
            ">IIBBBBB", width, len(filters_and_rows), 8, colortype, 0, 0, 0
        )
        return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))

    # grayscale, width 3: Sub then Up then Average then Paeth
    img = hand_png(
        [
            (0, [10, 20, 30]),       # None -> 10 20 30
            (1, [5, 5, 5]),          # Sub  -> 5 10 15
            (2, [1, 1, 1]),          # Up   -> 6 11 16
            (3, [4, 3, 2]),          # Avg  -> 7 11+? compute below
            (4, [1, 1, 1]),          # Paeth
        ],
        3, 1, 0,
    )
    _, _, _, out = png_decode(img)
    rows = [list(out[i * 3 : (i + 1) * 3]) for i in range(5)]
    assert rows[0] == [10, 20, 30]
    assert rows[1] == [5, 10, 15]
    assert rows[2] == [6, 11, 16]
    # Average: x + (left + up)//2
    r3 = [(4 + (0 + 6) // 2) & 0xFF]
    r3.append((3 + (r3[0] + 11) // 2) & 0xFF)
    r3.append((2 + (r3[1] + 16) // 2) & 0xFF)
    assert rows[3] == r3
    # Paeth row: verify against a direct predictor computation
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
    r4, prev = [], rows[3]
    for i in range(3):
        a = r4[i - 1] if i else 0
        c = prev[i - 1] if i else 0
        r4.append((1 + paeth(a, prev[i], c)) & 0xFF)
    assert rows[4] == r4


def test_png_codec_roundtrip_property():
    """Property: encode→decode is identity for arbitrary dimensions,
    channel counts, and pixel contents (pure-Python, no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from survivor_processing_spark.operators.multimodal import (
        png_decode,
        png_encode,
        png_resize_nn,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        nch=st.sampled_from([1, 2, 3, 4]),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, nch, seed):
        import random

        rng = random.Random(seed)
        px = bytes(rng.randrange(256) for _ in range(w * h * nch))
        assert png_decode(png_encode(w, h, nch, px)) == (w, h, nch, px)
        # resize to same size is identity (NN with ratio 1 maps i->i)
        same = png_resize_nn(png_encode(w, h, nch, px), w, h)
        assert png_decode(same) == (w, h, nch, px)

    check()


def test_resize_media_stdlib_png_path():
    """The stdlib codec REALLY resizes PNGs: output parses to the
    target dimensions and samples the expected source pixels;
    non-PNG blobs are refused."""
    from survivor_processing_spark.operators.multimodal import (
        parse_media_header,
        png_decode,
        png_encode,
        png_resize_nn,
    )

    w, h = 8, 6
    px = bytes(((x * 37 + y * 11) & 0xFF) for y in range(h) for x in range(w))
    blob = png_resize_nn(png_encode(w, h, 1, px), 4, 3)
    assert parse_media_header(blob) == ("image/png", 4, 3, None)
    _, _, _, small = png_decode(blob)
    want = bytes(px[(y * 6 // 3) * w + (x * 8 // 4)]
                 for y in range(3) for x in range(4))
    assert small == want
    with pytest.raises(ValueError, match="not a PNG"):
        png_resize_nn(b"not an image", 4, 3)



# --- quarantine inspection + exact IVF --------------------------------------


def test_entity_match_quarantine_residue(spark, sf_dir):
    """The quarantine query surfaces exactly the langs neither
    attempt table covers (fixture has 'fr'), with counts matching a
    direct filter."""
    out = {r.unresolved_key: r.n_quarantined
           for r in REGISTRY["entity_match_quarantine"].fn(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    known = {"en", "de", "es", "zh"}
    want = {
        r.lang: r.n
        for r in docs.filter(~F.col("lang").isin(*known))
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert out == want and out  # non-empty residue


def test_entity_match_quarantine_plan(spark, sf_dir):
    """Cascade attempts stay broadcast joins; the only shuffle is the
    final quarantine-summary aggregation."""
    df = REGISTRY["entity_match_quarantine"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # 3 exchanges: one per attempt-table dedup (rows = distinct
    # correction keys, broadcast-sized) + the final summary agg; the
    # FACT side never shuffles before aggregation
    assert plan.count("Exchange hashpartitioning") == 3


def test_ivf_topk_exact_matches_bruteforce_query(spark, sf_dir):
    """The registered exact-config IVF query returns bit-identical
    rows to the registered brute-force query — the degraded-to-exact
    property at the queries()/oracle gate level."""
    a = [(r.sim_rank, r.vec_id)
         for r in REGISTRY["ivf_topk_exact"].fn(spark, sf_dir).collect()]
    b = [(r.sim_rank, r.vec_id)
         for r in REGISTRY["cosine_topk"].fn(spark, sf_dir).collect()]
    assert sorted(a) == sorted(b)
