"""Round-6 additions: portable full-Lloyd k-means, the capped
portable LSH posting lists, real WAV frame slicing, the sketch
error-bound gate, and the quarantine MERGE replay."""

from __future__ import annotations

import random
import struct

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.operators.cluster import kmeans_lloyd_portable
from survivor_processing_spark.operators.multimodal import (
    synth_wav,
    wav_encode,
    wav_info,
    wav_slice_frames,
)
from survivor_processing_spark.operators.similarity import lsh_portable_pairs

# --- portable full-Lloyd k-means --------------------------------------------


def test_lloyd_portable_deterministic_and_total(spark, sf_dir):
    from survivor_processing_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = kmeans_lloyd_portable(e, "embedding", "vec_id", k=4, iters=2)
    b = kmeans_lloyd_portable(e, "embedding", "vec_id", k=4, iters=2)
    pa = {r["vec_id"]: r["cluster_idx"] for r in a.collect()}
    pb = {r["vec_id"]: r["cluster_idx"] for r in b.collect()}
    assert pa == pb  # bit-deterministic across runs
    assert len(pa) == e.count()  # every vector labeled exactly once
    assert set(pa.values()) <= set(range(4))


def test_lloyd_portable_separates_planted_blobs(spark):
    # two tight blobs far apart: after 2 iterations with k=2 the
    # assignment must split them exactly (integer-lane Lloyd still
    # has to CONVERGE like Lloyd, not just be deterministic)
    rows = [(i, [10.0 + 0.01 * i, 0.0]) for i in range(6)] + [
        (i, [-10.0 - 0.01 * i, 0.0]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd_portable(df, "embedding", "vec_id", k=2, iters=2)
    lab = {r["vec_id"]: r["cluster_idx"] for r in out.collect()}
    left = {lab[i] for i in range(6)}
    right = {lab[i] for i in range(6, 12)}
    assert len(left) == 1 and len(right) == 1 and left != right


# --- capped portable LSH ----------------------------------------------------


def test_lloyd_portable_empty_and_null_vectors(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans_lloyd_portable(empty, "embedding", "vec_id", k=3).count() == 0
    # NULL vectors, NULL-LANE vectors, and (with dim set) ragged
    # vectors are quarantined — dropped, never labeled or seeded
    rows = [
        (0, None),
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [-1.0, 0.0]),
        (4, [1.0, None]),
        (5, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd_portable(df, "embedding", "vec_id", k=2, iters=1, dim=2)
    labels = {r["vec_id"]: r["cluster_idx"] for r in out.collect()}
    assert set(labels) == {1, 2, 3}
    assert labels[1] == labels[2] != labels[3]


def test_lsh_portable_cap_bounds_candidates(spark):
    # 40 identical vectors -> one hot bucket per table; the portable
    # cap must bound survivors per bucket, and the verify still finds
    # the (capped) identical pairs
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = lsh_portable_pairs(
        df, threshold=0.9, n_planes=2, n_tables=2, max_bucket=5
    )
    n_capped = capped.count()
    # 5 survivors per (table, bucket) -> at most C(5,2)=10 pairs per
    # table, 2 tables, dedup'd: strictly fewer than the 780 uncapped
    assert 0 < n_capped <= 20
    uncapped = lsh_portable_pairs(df, threshold=0.9, n_planes=2, n_tables=2)
    assert uncapped.count() == 40 * 39 // 2


def test_lsh_portable_cap_noop_when_buckets_small(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        map(tuple, lsh_portable_pairs(df, 0.8, 2, 2).collect())
    )
    b = sorted(
        map(tuple, lsh_portable_pairs(df, 0.8, 2, 2, max_bucket=64).collect())
    )
    assert a == b  # cap above every posting-list size changes nothing


def test_lsh_portable_null_first_vector(spark):
    # ADVICE r05: a NULL embedding in row 1 must not TypeError the
    # dimension probe
    rows = [(0, None), (1, [1.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_portable_pairs(df, threshold=0.9, n_planes=2, n_tables=2)
    assert sorted(map(tuple, out.collect())) == [(1, 2)]


@pytest.mark.parametrize("seed", [0, 1])
def test_lsh_portable_matches_registered_oracle(spark, seed):
    """Random 64-dim corpora with up to three scaled copies of vector 0
    (cosine 1.0): the capped portable LSH at the registered
    parameters == the embedding_lsh_portable_pairs oracle."""
    from survivor_processing_spark.queries import REGISTRY

    rng = random.Random(seed)
    n = rng.randint(5, 40)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(n)]
    for j in range(min(3, n - 1)):
        vecs[j + 1] = [x * rng.uniform(0.5, 2.0) for x in vecs[0]]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = sorted(
        map(tuple, lsh_portable_pairs(df, 0.5, 4, 16, max_bucket=64).collect())
    )
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame({"vec_id": range(n), "embedding": vecs}))
    oracle = REGISTRY["embedding_lsh_portable_pairs"].oracle
    want = sorted(map(tuple, con.execute(oracle).fetchall()))
    assert got == want, (seed, n)


# --- WAV slicing ------------------------------------------------------------


def test_wav_info_roundtrip():
    b = synth_wav(1000, sample_rate=8000)
    info = wav_info(b)
    assert info["rate"] == 8000
    assert info["block"] == 2
    assert info["n_samples"] == 1000
    assert wav_info(b"\x89PNG not a wav") is None
    # truncated blob DECLARING a 16-byte fmt but carrying fewer bytes
    # must return None, not raise struct.error
    trunc = b"RIFF" + (20).to_bytes(4, "little") + b"WAVEfmt " + (
        16
    ).to_bytes(4, "little") + b"\x01\x00\x01\x00"
    assert wav_info(trunc) is None


def test_wav_encode_pads_odd_chunks():
    # an odd-length data chunk gets the RIFF pad byte, so the walker
    # (which advances word-aligned) re-parses the encoder's output
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)  # 8-bit mono
    b = wav_encode(fmt, b"\x01\x02\x03")  # 3 samples, odd
    info = wav_info(b)
    assert info is not None and info["n_samples"] == 3


def test_wav_slice_boundaries_and_reencode():
    # 1000 samples @ 8000 Hz = 0.125 s; 0.05 s frames = 400 samples:
    # frames of 400, 400, 200 (last partial)
    vals = [(i * 13) % 65536 - 32768 for i in range(1000)]
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    b = wav_encode(fmt, struct.pack("<1000h", *vals))
    frames = wav_slice_frames(b, every_s=0.05)
    assert [(i, ts) for i, ts, _ in frames] == [
        (0, 0.0), (1, 0.05), (2, 0.1)
    ]
    sizes, total = [], []
    for _, _, seg in frames:
        info = wav_info(seg)  # every frame is itself a valid WAV
        n = info["n_samples"]
        sizes.append(n)
        total.extend(
            struct.unpack(f"<{n}h", seg[info["data_off"]: info["data_off"] + 2 * n])
        )
    assert sizes == [400, 400, 200]
    assert total == vals  # concatenated slices reproduce the input


def test_frame_sample_real_wav_and_video_guard():
    from survivor_processing_spark.operators.multimodal import (
        sample_frames_real,
    )

    out = sample_frames_real(synth_wav(1200, 800), every_s=0.5)
    # 1200 samples @800 Hz = 1.5 s -> 3 frames of 400
    assert [(idx, ts) for idx, ts, _f in out] == [
        (0, 0.0), (1, 0.5), (2, 1.0)
    ]
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames_real(b"\x00\x01\x02not-audio", every_s=0.5)


# --- IVF recall floor -------------------------------------------------------


def test_ivf_recall_bound(spark, sf_dir):
    from test_round7_ops import _ivf_recall_bound

    from survivor_processing_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = [r for r in e.limit(1).collect()][0]["embedding"]
    query = [float(x) for x in q]
    row = _ivf_recall_bound(
        e, query, k=5, n_centroids=8, n_probe=8, min_recall=1.0
    ).collect()[0]
    # n_probe = n_centroids scans everything -> recall is exactly 1
    assert row["k"] == 5 and bool(row["recall_above_floor"])


# --- sketch error-bound gate ------------------------------------------------


def test_sketch_gate_all_true(spark, sf_dir):
    from survivor_processing_spark.queries.analytics import (
        sketch_distinct_quantiles,
    )

    rows = sketch_distinct_quantiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.users_within_tol and r.p50_within_tol
        assert r.p90_within_tol and r.p99_within_tol


# --- bounded-cache view lifecycle (ADVICE r05 fix) --------------------------


def test_cache_bounded_drops_superseded_view(spark):
    from survivor_processing_spark.operators.dedup import cache_bounded

    v1, v2, v3 = (
        "_t_view_lifecycle_1",
        "_t_view_lifecycle_2",
        "_t_view_lifecycle_3",
    )
    a = spark.range(0, 5)
    a.createOrReplaceTempView(v1)
    cache_bounded("_t_view_key", a, view=v1)
    assert spark.catalog.tableExists(v1)
    b = spark.range(0, 7)
    b.createOrReplaceTempView(v2)
    cache_bounded("_t_view_key", b, view=v2)
    # the superseded view survives ONE more build (deferred drop,
    # ADVICE r06 — an eager drop hard-broke a caller with one
    # outstanding un-analyzed filter expression) ...
    assert spark.catalog.tableExists(v1)
    assert spark.catalog.tableExists(v2)
    c = spark.range(0, 9)
    c.createOrReplaceTempView(v3)
    cache_bounded("_t_view_key", c, view=v3)
    # ... and is gone at the build after that: residency is bounded
    # at two views per key, never accumulating
    assert not spark.catalog.tableExists(v1)
    assert spark.catalog.tableExists(v2)
    assert spark.catalog.tableExists(v3)
    c.unpersist()
    spark.catalog.dropTempView(v2)
    spark.catalog.dropTempView(v3)


def test_bloom_subquery_view_evicted_on_rebuild(spark):
    from survivor_processing_spark.operators.bloom import bloom_filter_subquery

    keys = spark.range(0, 50).selectExpr("cast(id as string) AS k")
    before = {t.name for t in spark.catalog.listTables()}
    bloom_filter_subquery(keys, "k", num_bits=1 << 14)
    mid = {t.name for t in spark.catalog.listTables()} - before
    bloom_filter_subquery(keys, "k", num_bits=1 << 14)
    two = {t.name for t in spark.catalog.listTables()} - before
    bloom_filter_subquery(keys, "k", num_bits=1 << 14)
    three = {t.name for t in spark.catalog.listTables()} - before
    # residency is bounded at TWO views (current + one deferred for
    # the outstanding-build window, ADVICE r06); the catalog never
    # accumulates bloom views across builds, and the oldest view is
    # dropped two builds after it was superseded
    assert len(mid) == 1 and len(two) == 2 and len(three) == 2
    assert mid < two and not (mid & three)


# --- bench prior-artifact guards --------------------------------------------


def test_bench_prior_guards(monkeypatch):
    """A prior ratio is computed only against an artifact from the
    same core count and scale (or sf1 fixture); one that does not
    record its core count is never a prior."""
    import io
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    served: dict = {}
    real_open = open
    monkeypatch.setattr(bench.os, "listdir", lambda _: ["BENCH_r05.json"])
    monkeypatch.setattr(
        "builtins.open",
        lambda p, *a, **kw: io.StringIO(json.dumps(served["doc"]))
        if "BENCH_" in str(p)
        else real_open(p, *a, **kw),
    )
    want = {
        "prior_round": 5,
        "n_common": 1,
        "prior_sec": 2.0,
        "this_sec": 1.0,
        "ratio": 0.5,
    }
    q = {"q": 2.0}
    for doc, expect in [
        ({"queries": q, "sf": 0.1, "cpus": 4}, want),
        # driver wrapper: cpus and sf at the top, bench line in "parsed"
        ({"cpus": 4, "sf": 0.1, "parsed": {"queries": q}}, want),
        ({"queries": q, "sf": 0.1, "cpus": 32}, None),
        ({"cpus": 32, "sf": 0.1, "parsed": {"queries": q}}, None),
        ({"queries": q, "sf": 0.1}, None),
        ({"queries": q, "sf": 0.01, "cpus": 4}, None),
    ]:
        served["doc"] = doc
        assert bench._prior_common({"q": 1.0, "r": 5.0}, 0.1, 4) == expect, doc

    monkeypatch.setenv("SPARK_GRAFT_SF1_DIR", "/tmp/sps_scaled")
    for doc, ok in [
        ({"sf_dir": "/tmp/sps_scaled", "cpus": 4, "queries": q}, True),
        ({"sf_dir": "/tmp/sps_scaled", "cpus": 8, "queries": q}, False),
        ({"sf_dir": "/tmp/sps_scaled", "queries": q}, False),
        ({"sf_dir": "/some/other/fixture", "cpus": 4, "queries": q}, False),
    ]:
        served["doc"] = doc
        out = bench._prior_stretch({"q": 1.0}, 4)
        assert (out is not None and out["ratio"] == 0.5) if ok else out is None, doc


# --- quarantine MERGE replay ------------------------------------------------


def test_quarantine_merge_replay_idempotent(spark, tmp_path):
    from survivor_processing_spark.sinks.merge import merge_upsert

    residue = spark.createDataFrame(
        [(1, "xx"), (2, "xx"), (3, "yy")], "doc_id long, lang string"
    )
    path = str(tmp_path / "quarantine")
    merge_upsert(spark, path, residue, keys=["doc_id"])
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    merge_upsert(spark, path, residue, keys=["doc_id"])  # replay
    second = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert first == second == [(1, "xx"), (2, "xx"), (3, "yy")]
