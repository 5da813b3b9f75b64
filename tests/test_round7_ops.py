"""Round-7 additions: the three ADVICE r06 fixes (ragged-vector
Lloyd with dim=None, deferred bloom-view eviction) plus the new
checkable gates — IVF recall floor, float-Lloyd agreement, planted
SimHash recall."""

from __future__ import annotations

import pyspark.sql.functions as F

from survivor_processing_spark.operators.cluster import kmeans_lloyd_portable

# --- ADVICE r06 #1: kmeans_lloyd_portable, dim=None, ragged input -----------


def test_lloyd_portable_ragged_dim_none(spark):
    # before the fix: zip_with NULL-pads the short vector, every
    # distance goes NULL, the label goes NULL, and int(None) raises
    # TypeError driver-side (or a LONG vector's pos overruns the
    # [0]*n_lanes sums list).  After: dim derives from the
    # md5-smallest clean vector and other lengths are quarantined.
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [1.1, 2.1, 3.1]),
        (2, [9.0, 9.0]),  # short — must be quarantined, not crash
        (3, [9.0, 9.0, 9.0, 9.0]),  # long — ditto
        (4, [8.0, 8.0, 8.0]),
        (5, None),  # NULL vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd_portable(df, "embedding", "vec_id", k=2, iters=2)
    labels = {r["vec_id"]: r["cluster_idx"] for r in out.collect()}
    # only the vectors matching the derived dim (3) are labeled
    assert set(labels) == {0, 1, 4}
    assert all(v is not None for v in labels.values())
    # and the derived-dim run equals the explicit-dim run
    explicit = {
        r["vec_id"]: r["cluster_idx"]
        for r in kmeans_lloyd_portable(
            df, "embedding", "vec_id", k=2, iters=2, dim=3
        ).collect()
    }
    assert labels == explicit


def test_lloyd_portable_all_ragged_empty(spark):
    # every vector quarantined after the derived-dim filter leaves
    # only the probe vector's cohort; an all-NULL input is empty out
    df = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    out = kmeans_lloyd_portable(df, "embedding", "vec_id", k=2, iters=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "cluster_idx"]


# --- ADVICE r06 #2: cache_bounded defers the view drop one generation -------


def test_cache_bounded_view_drop_deferred(spark):
    from survivor_processing_spark.operators import dedup as D

    key = "_test_deferred_drop"
    try:
        a = spark.range(1).select(F.lit(1).alias("v"))
        a.createOrReplaceTempView("_tdd_a")
        D.cache_bounded(key, a, view="_tdd_a")
        b = spark.range(1).select(F.lit(2).alias("v"))
        b.createOrReplaceTempView("_tdd_b")
        D.cache_bounded(key, b, view="_tdd_b")
        # build N's view survives build N+1: an expression written
        # against _tdd_a still analyzes (the ADVICE failure mode was
        # a hard TABLE_OR_VIEW_NOT_FOUND right here)
        assert spark.sql("SELECT v FROM _tdd_a").collect()[0]["v"] == 1
        c = spark.range(1).select(F.lit(3).alias("v"))
        c.createOrReplaceTempView("_tdd_c")
        D.cache_bounded(key, c, view="_tdd_c")
        # ...and is dropped at build N+2 (no catalog accumulation)
        assert not any(
            t.name == "_tdd_a" for t in spark.catalog.listTables()
        )
        assert any(t.name == "_tdd_b" for t in spark.catalog.listTables())
    finally:
        with D._BOUNDED_LOCK:
            D._BOUNDED_CACHE.pop(key, None)
            D._BOUNDED_DROP_QUEUE.pop(key, None)
        for v in ("_tdd_a", "_tdd_b", "_tdd_c"):
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass


def test_bloom_two_outstanding_builds_analyze(spark):
    # the concrete caller shape ADVICE described: build two
    # bloom-filtered queries, then execute the FIRST — with the
    # deferred drop both analyze and run
    from survivor_processing_spark.operators.bloom import (
        bloom_filter_subquery,
        might_contain,
    )

    keys1 = spark.range(10).select(F.col("id").cast("string").alias("k"))
    keys2 = spark.range(5).select(F.col("id").cast("string").alias("k"))
    probe = spark.range(20).select(F.col("id").cast("string").alias("k"))
    b1 = bloom_filter_subquery(keys1, "k", num_bits=1 << 10)
    q1 = probe.where(might_contain(b1, F.col("k"), num_bits=1 << 10))
    b2 = bloom_filter_subquery(keys2, "k", num_bits=1 << 10)
    q2 = probe.where(might_contain(b2, F.col("k"), num_bits=1 << 10))
    n1, n2 = q1.count(), q2.count()
    assert n1 >= 10 and n2 >= 5  # no false negatives, both executed


# --- the r7 gate conversions (VERDICT r06 #1/#2) ----------------------------


def _one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def _ivf_recall_bound(emb, query_vec, k, n_centroids, n_probe, min_recall):
    """The IVF accuracy contract as a checkable one-row output: run
    the approximate IVF top-k AND the exact brute-force top-k in the
    same pipeline, semi-join the id sets, and emit
    ``(k, n_matches >= ceil(min_recall * k))`` — ANN result SETS are
    never bit-comparable across engines, their recall floor is."""
    import math

    from survivor_processing_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    approx = ivf_topk(
        emb, query_vec, k=k, n_centroids=n_centroids, n_probe=n_probe
    ).select("vec_id")
    exact = brute_force_topk(emb, query_vec, k=k).select("vec_id")
    matches = approx.join(exact, "vec_id", "left_semi")
    need = math.ceil(min_recall * k)
    return matches.agg(
        F.lit(k).alias("k"),
        (F.count(F.lit(1)) >= F.lit(need)).alias("recall_above_floor"),
    )


def test_ivf_recall_bound_gate(spark, sf_dir):
    # the approximate serving configuration (n_probe=4 of 16) keeps
    # its recall floor of 0.5; the probe-everything case is
    # test_round6_ops::test_ivf_recall_bound
    from survivor_processing_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    r = _one_row(
        _ivf_recall_bound(
            e, qvec, k=10, n_centroids=16, n_probe=4, min_recall=0.5
        )
    )
    assert r["k"] == 10 and r["recall_above_floor"] is True


def test_kmeans_clusters_gate(spark, sf_dir):
    from survivor_processing_spark.queries import REGISTRY

    r = _one_row(REGISTRY["kmeans_clusters"].fn(spark, sf_dir))
    assert r["n_points"] > 0
    assert r["all_labeled"] is True
    assert r["inertia_within_5pct"] is True


def test_simhash_planted_recall_gate(spark, sf_dir):
    """Plant exact and edited copies of the 50 md5-smallest docs:
    every exact copy and at least half the edited copies must come
    back as near pairs at hamming <= 3."""
    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        simhash_portable_pairs,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        d.withColumn("_m", F.md5(F.col("doc_id").cast("string")))
        .orderBy("_m")
        .limit(50)
        .drop("_m")
    )
    exact = base.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    edited = base.select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
        F.concat(F.lit("zzyzx "), F.col("text")).alias("text"),
    )
    aug = d.unionByName(exact).unionByName(edited)
    pairs = {
        (r.id1, r.id2)
        for r in simhash_portable_pairs(
            aug, "text", "doc_id", max_hamming=3, n_chunks=4
        ).select("id1", "id2").collect()
    }
    ids = [r.doc_id for r in base.collect()]
    assert len(ids) == 50
    assert all((i, i + 10_000_000) in pairs for i in ids)
    n_edit = sum((i, i + 20_000_000) in pairs for i in ids)
    assert n_edit * 2 >= len(ids)


# --- stdlib GIF frame codec (r7: the animation real-codec path) --------------


def test_gif_lzw_roundtrip_drives_growth_and_kwkwk():
    import random

    from survivor_processing_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(20260814)
    for _ in range(40):
        n = rng.randint(0, 4000)
        style = rng.random()
        if style < 0.34:
            px = bytes(rng.randrange(256) for _ in range(n))
        elif style < 0.67:
            # tiny alphabet: table grows deep -> width-change path
            px = bytes(rng.randrange(4) for _ in range(n))
        else:
            # periodic runs -> the KwKwK special case
            unit = bytes(rng.randrange(256) for _ in range(rng.randint(1, 5)))
            px = (unit * (n // max(len(unit), 1) + 1))[:n]
        assert _lzw_decode(_lzw_encode(px, 8), 8) == px
    # the encoder really compresses (literals-only toys cannot): a
    # 4000-byte run must come out far below 4000 code bytes
    assert len(_lzw_encode(b"\x07" * 4000, 8)) < 400


def test_gif_multiframe_roundtrip_and_slicing():
    import random

    from survivor_processing_spark.operators.multimodal import (
        gif_encode_frames,
        gif_frames,
        gif_slice_frames,
        parse_media_header,
    )

    rng = random.Random(7)
    w, h, nf = 6, 4, 3
    frames = [bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(nf)]
    g = gif_encode_frames(w, h, frames)
    doc = gif_frames(g)
    assert doc["width"] == w and doc["height"] == h
    assert [f[4] for f in doc["frames"]] == frames
    sliced = gif_slice_frames(g, 0.5)
    assert [(i, t) for i, t, _ in sliced] == [(0, 0.0), (1, 0.5), (2, 1.0)]
    for k, (_i, _t, blob) in enumerate(sliced):
        mime, mw, mh, _ = parse_media_header(blob)
        assert mime == "image/gif" and (mw, mh) == (w, h)
        assert gif_frames(blob)["frames"][0][4] == frames[k]


def test_gif_dispatch_edges():
    from survivor_processing_spark.operators.multimodal import (
        gif_frames,
        gif_slice_frames,
        synth_gif,
    )

    # header-only valid GIF: zero frames, NOT unparseable
    assert gif_frames(synth_gif(3, 2))["frames"] == []
    assert gif_slice_frames(synth_gif(3, 2), 1.0) == []
    # junk: None -> sample_frames_real raises NotImplementedError
    assert gif_slice_frames(b"\x89PNG not a gif", 1.0) is None


def test_gif_deinterlace_roundtrip():
    from survivor_processing_spark.operators.multimodal import _deinterlace

    # build the interlaced row order for h=10, then check the
    # deinterlacer restores scanline order
    h, w = 10, 3
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    interlaced = b"".join(bytes([y]) * w for y in order)
    out = _deinterlace(interlaced, w, h)
    assert out == b"".join(bytes([y]) * w for y in range(h))


def test_frame_sample_real_mode_rejects_unknown_codec():
    import pytest as _pytest

    from survivor_processing_spark.operators.multimodal import (
        sample_frames_real,
    )

    with _pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames_real(b"\x00\x00\x00\x18ftypmp42 fake mp4", every_s=1.0)


# --- index-at-rest probe path (VERDICT r06 #5) -------------------------------


def test_incremental_dedup_prebuilt_index_identical(spark, sf_dir):
    import pyspark.sql.functions as F2

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        lsh_band_index,
        minhash_match_against_corpus,
        minhash_signatures,
        shingle_table,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F2.col("doc_id") % 10 == 0)
    corpus = d.filter(F2.col("doc_id") % 10 != 0)
    default = sorted(
        map(
            tuple,
            minhash_match_against_corpus(new, corpus, "text", "doc_id")
            .select("new_id", "corpus_id")
            .collect(),
        )
    )
    idx = lsh_band_index(
        minhash_signatures(corpus, "text", "doc_id", 64, 3), 16, 4
    ).withColumnRenamed("doc_id", "corpus_id")
    sh_c = shingle_table(corpus, "text", "doc_id", 3).select(
        F2.col("doc_id").alias("corpus_id"), F2.col("shingles").alias("sh2")
    )
    prebuilt = sorted(
        map(
            tuple,
            minhash_match_against_corpus(
                new,
                corpus,
                "text",
                "doc_id",
                corpus_index=idx,
                corpus_shingles=sh_c,
            )
            .select("new_id", "corpus_id")
            .collect(),
        )
    )
    assert prebuilt == default


# --- doclint (VERDICT r06 #3) ------------------------------------------------


def test_doclint_catches_drift_and_passes_truth(tmp_path, monkeypatch):
    import json as _json

    import tools.doclint as doclint

    art = tmp_path / "FAKE_BENCH.json"
    art.write_text(_json.dumps({"value": 465.1, "queries": {"a": 1.5, "b": 2.5}}))
    monkeypatch.setattr(doclint, "REPO", str(tmp_path))

    good = tmp_path / "good.md"
    good.write_text(
        "## Round 9\n\nFAKE_BENCH.json total 465.1 s over 2 queries "
        "(sum 4.0 s).\n"
    )
    assert doclint.lint_file(str(good), None) == []

    # the r5/r6 drift class: a number the artifact does not contain
    bad = tmp_path / "bad.md"
    bad.write_text("## Round 9\n\nFAKE_BENCH.json total 478.0 s.\n")
    errs = doclint.lint_file(str(bad), None)
    assert len(errs) == 1 and "478.0" in errs[0]

    # rounded quote of a more precise value passes
    rounded = tmp_path / "rounded.md"
    rounded.write_text("## Round 9\n\nFAKE_BENCH.json total 465 s.\n")
    assert doclint.lint_file(str(rounded), None) == []

    # doclint:off opts a paragraph out
    off = tmp_path / "off.md"
    off.write_text(
        "## Round 9\n\nFAKE_BENCH.json was 478.0 s last round "
        "(historical — doclint:off).\n"
    )
    assert doclint.lint_file(str(off), None) == []

    # --since scoping: non-matching sections are not linted
    scoped = tmp_path / "scoped.md"
    scoped.write_text(
        "## Round 8\n\nFAKE_BENCH.json total 478.0 s.\n\n"
        "## Round 9\n\nFAKE_BENCH.json total 465.1 s.\n"
    )
    assert doclint.lint_file(str(scoped), r"Round 9") == []
    assert len(doclint.lint_file(str(scoped), r"Round 8")) == 1
