"""Unit tests for id minting, resolution cascade, schema sync,
dedup, similarity, and the merge sink (FIXTURES.md §C mini-fixtures)."""

from __future__ import annotations

import os
import random
import shutil
import tempfile

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from registered_query import run_registered
from survivor_processing_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_portable,
)
from survivor_processing_spark.operators.ids import mint_ids_sequential
from survivor_processing_spark.operators.resolve import resolve_cascade
from survivor_processing_spark.operators.schema_sync import sync_with_target
from survivor_processing_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
)
from survivor_processing_spark.sinks.merge import merge_upsert


WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi", "rho",
]


def _documents(docs):
    return pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": docs,
            "source": ["s"] * len(docs),
            "lang": ["en"] * len(docs),
            "n_chars": [len(t) for t in docs],
        }
    )


def test_id_minting_sequential(spark):
    # FIXTURES.md §C.8: existing max=100, 3 nulls → 101..103 in key order
    df = spark.createDataFrame(
        [("a", 100), ("b", None), ("c", None), ("d", None), ("e", 7)],
        "name string, id long",
    )
    out = {r["name"]: r["id"] for r in mint_ids_sequential(df, "id", ["name"]).collect()}
    assert out == {"a": 100, "e": 7, "b": 101, "c": 102, "d": 103}


def test_id_minting_all_null_starts_at_one(spark):
    df = spark.createDataFrame([("x", None), ("y", None)], "name string, id long")
    out = {r["name"]: r["id"] for r in mint_ids_sequential(df, "id", ["name"]).collect()}
    assert out == {"x": 1, "y": 2}


def test_resolve_cascade_order_and_quarantine(spark):
    df = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    prim = spark.createDataFrame([("x", "PX")], "k string, v string")
    fb = spark.createDataFrame([("x", "FX"), ("y", "FY")], "k string, v string")
    out = resolve_cascade(
        df, [(prim, ["k"], "v"), (fb, ["k"], "v")], out_col="v", default="unk"
    )
    got = {r["k"]: (r["v"], r["v_resolved_by"]) for r in out.collect()}
    assert got == {"x": ("PX", 0), "y": ("FY", 1), "z": ("unk", -1)}


def test_schema_sync(spark):
    df = spark.createDataFrame([(1, "a", 2.5)], "x long, extra string, y double")
    target = StructType(
        [
            StructField("x", IntegerType()),
            StructField("y", DoubleType()),
            StructField("missing", StringType()),
        ]
    )
    out = sync_with_target(df, target)
    assert out.columns == ["x", "y", "missing"]
    assert [f.dataType for f in out.schema.fields] == [
        IntegerType(), DoubleType(), StringType()]
    assert out.first()["missing"] is None


def test_exact_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content words nothing shared here at all " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r["id1"], r["id2"]) for r in
             minhash_dedup_pairs(df, "text", "doc_id", threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_stable_and_close_for_near_dups(spark):
    base = "one two three four five six seven eight nine ten " * 10
    near = base.replace("five", "5")
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    out = {
        r["doc_id"]: r["simhash_sig"]
        for r in simhash_portable(df, "text", "doc_id").collect()
    }
    hamming = bin(out[1] ^ out[2]).count("1")
    assert hamming <= 16  # near-dups land close in hamming space


@pytest.mark.parametrize("seed", [0, 1])
def test_simhash_pairs_registered_match_oracle_on_random_corpora(spark, seed):
    """Random word corpora with a planted identical copy and a
    one-word edit: the registered simhash_portable_pairs == its
    oracle."""
    rng = random.Random(seed)
    n = rng.randint(4, 25)
    docs = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 30)))
        for _ in range(n)
    ]
    docs[1] = docs[0]
    words = docs[0].split()
    words[0] = "OMEGA"
    docs[2] = " ".join(words)
    got, want = run_registered(
        spark, "simhash_portable_pairs", "documents", _documents(docs)
    )
    assert got == want, (seed, n)


def test_brute_force_topk_self_first(spark, sf_dir):
    from survivor_processing_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    top = brute_force_topk(emb, [float(x) for x in q], k=3).collect()
    assert top[0]["vec_id"] == 3 and top[0]["sim_rank"] == 1  # self is rank 1


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter > 1 round: forces propagation), island 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )
    out = {r["node"]: r["component_id"]
           for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_ivf_index_partitions_corpus(spark, sf_dir):
    from survivor_processing_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cents, assigned = build_ivf_index(emb, n_centroids=8)
    assert len(cents) == 8
    # every vector lands in exactly one list; ids are a partition
    assert assigned.count() == n
    per = {r["cluster_id"]: r["n"] for r in
           assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    assert sum(per.values()) == n and set(per) <= set(range(8))
    # deterministic across rebuilds (hash-seeded, no RNG state)
    cents2, _ = build_ivf_index(emb, n_centroids=8)
    for (i1, c1), (i2, c2) in zip(cents, cents2):
        assert i1 == i2 and float(abs(c1 - c2).max()) == 0.0


def test_ivf_topk_self_first_and_probe_all_exact(spark, sf_dir):
    from survivor_processing_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    approx = ivf_topk(emb, q, k=5, n_centroids=8, n_probe=2).collect()
    assert approx[0]["vec_id"] == 3 and approx[0]["sim_rank"] == 1
    # probing every list degrades to exact brute force
    full = ivf_topk(emb, q, k=5, n_centroids=8, n_probe=8).collect()
    exact = brute_force_topk(emb, q, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_parse_media_header_real_formats():
    """Pure-function check of every stdlib header parser against
    synthesized files AND against hand-built edge cases (JPEG marker
    walk past APP segments, odd-sized WAV chunks with word-alignment
    padding)."""
    from media_fixtures import synth_jpeg
    from survivor_processing_spark.operators.multimodal import (
        parse_media_header,
        synth_gif,
        synth_png,
        synth_wav,
    )

    assert parse_media_header(synth_png(640, 480)) == (
        "image/png", 640, 480, None,
    )
    assert parse_media_header(synth_gif(320, 200)) == (
        "image/gif", 320, 200, None,
    )
    assert parse_media_header(synth_jpeg(1024, 768)) == (
        "image/jpeg", 1024, 768, None,
    )
    mime, w, h, dur = parse_media_header(synth_wav(16000, sample_rate=8000))
    assert (mime, w, h) == ("audio/wav", None, None)
    assert dur == 2.0  # 16000 samples * 2 B / 16000 B/s
    # odd-sized chunk before data: word-alignment skip must not
    # misread the data chunk
    import struct

    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    wav = synth_wav(8000)
    padded = wav[:12] + odd + wav[12:]
    padded = b"RIFF" + struct.pack("<I", len(padded) - 8) + padded[8:]
    assert parse_media_header(padded)[3] == 1.0
    # unknown magic → all None
    assert parse_media_header(b"\x00\x01\x02") == (None, None, None, None)
    # PNG decoded via the zlib IDAT really is a valid image payload
    import zlib

    png = synth_png(3, 2)
    idat_start = png.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", png[idat_start - 8 : idat_start - 4])[0]
    raw = zlib.decompress(png[idat_start : idat_start + idat_len])
    assert len(raw) == 2 * (1 + 3)  # height * (filter byte + width)


def test_merge_upsert_idempotent_and_key_fillna(spark):
    # FIXTURES.md §C.6: NULL key parts filled to 0 participate in the key;
    # MERGE twice → identical table
    path = os.path.join(tempfile.gettempdir(), "merge_test_tbl")
    shutil.rmtree(path, ignore_errors=True)
    rows = spark.createDataFrame(
        [(1, 1, None, "a"), (1, 2, 5.0, "b")],
        "season_id int, episode_id int, tc_number double, payload string",
    ).withColumn("tc_number", F.coalesce(F.col("tc_number"), F.lit(0.0)))
    keys = ["season_id", "episode_id", "tc_number"]
    merge_upsert(spark, path, rows, keys)
    first = sorted(spark.read.parquet(path).collect())
    update = spark.createDataFrame(
        [(1, 1, 0.0, "a2")],
        "season_id int, episode_id int, tc_number double, payload string",
    )
    merge_upsert(spark, path, update, keys)
    merge_upsert(spark, path, update, keys)
    final = spark.read.parquet(path)
    assert final.count() == 2
    got = {(r["season_id"], r["episode_id"], r["tc_number"]): r["payload"]
           for r in final.collect()}
    assert got[(1, 1, 0.0)] == "a2"  # fillna'd key matched and updated
    assert got[(1, 2, 5.0)] == "b"
    assert len(first) == 2
    shutil.rmtree(path, ignore_errors=True)


def test_minhash_scale_smoke_finds_all_planted_dups(spark):
    """3x the sf0.1 corpus in-plan (id-offset copies): every doc then
    has 2 exact copies, and at Jaccard=1.0 the 16x4 banding's miss
    probability is 0 — all 3*n copy-pairs MUST be found.  Also a
    scaling smoke: the pipeline runs at 15k docs with the same plan
    shape (posting lists, no self-join)."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    n = docs.count()
    tripled = docs
    for k in (1, 2):
        tripled = tripled.unionByName(
            docs.select((F.col("doc_id") + n * k).alias("doc_id"), "text")
        )
    pairs = minhash_dedup_pairs(tripled, "text", "doc_id", threshold=0.99)
    got = {(r.id1, r.id2) for r in pairs.select("id1", "id2").collect()}
    planted = {
        (i + n * a, i + n * b)
        for i in range(n)
        for a in range(3)
        for b in range(a + 1, 3)
    }
    assert planted <= got


def test_ngram_max_posting_caps_hot_shingles(spark):
    """A shingle shared by every doc (stopword run) would emit
    m(m-1)/2 pairs in one task; max_posting drops that posting.  Docs
    share ONLY the hot shingle, so capping it removes all pairs —
    and the uncapped run still finds them (exact semantics intact)."""
    from survivor_processing_spark.operators.dedup import ngram_jaccard_pairs

    hot = "alpha beta gamma"  # one 3-gram every doc shares
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.01, max_posting=None
    ).collect()
    capped = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.01, max_posting=5
    ).collect()
    assert len(uncapped) == 12 * 11 // 2  # every pair shares the hot shingle
    assert capped == []  # the only shared shingle was dropped by the cap
    # generous cap == exact
    generous = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.01, max_posting=1000
    ).collect()
    assert len(generous) == len(uncapped)


def test_simhash_pigeonhole_recall_to_hamming7(spark):
    """8 chunks of 6 bits over the 48-bit portable signature
    guarantee (pigeonhole) that every pair at hamming <= 7 is
    generated as a candidate.  Verify end-to-end: brute-force all
    pairwise hamming distances over real signatures, then assert
    simhash_portable_pairs returns EXACTLY the pairs at distance
    <= 7 (max_hamming = n_chunks - 1)."""
    from itertools import combinations

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        simhash_portable_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    sigs = {
        r.doc_id: r.simhash_sig
        for r in simhash_portable(docs, "text", "doc_id").collect()
    }
    expected = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    got = {
        (r.id1, r.id2)
        for r in simhash_portable_pairs(
            docs, "text", "doc_id", max_hamming=7, n_chunks=8
        ).collect()
    }
    assert any(
        bin(sigs[a] ^ sigs[b]).count("1") >= 4 for a, b in expected
    ), "fixture has no pairs at hamming 4-7 — weak test"
    assert got == expected



def test_ngram_prefix_filter_exact_vs_bruteforce(spark):
    """Prefix-filtered Jaccard join == brute-force all-pairs at the
    threshold (exact recall claim), across threshold boundaries."""
    import itertools
    from survivor_processing_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        if i % 4 == 0 and i:  # plant near-dups of the previous doc
            words = docs[i - 1][1].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            docs.append((i, " ".join(words)))
        else:
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(12))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(text):
        w = text.split()
        return {" ".join(w[j:j + 3]) for j in range(max(len(w) - 2, 1))}

    for t in (0.3, 0.5, 0.77):
        want = set()
        for (i1, t1), (i2, t2) in itertools.combinations(docs, 2):
            s1, s2 = shingles(t1), shingles(t2)
            if len(s1 & s2) / len(s1 | s2) >= t:
                want.add((min(i1, i2), max(i1, i2)))
        for strategy in ("count", "prefix"):
            got = {
                (r.id1, r.id2)
                for r in ngram_jaccard_pairs(
                    df, "text", "doc_id", threshold=t, max_posting=None,
                    strategy=strategy,
                ).collect()
            }
            assert got == want, f"{strategy}@{t}: {got ^ want}"


def test_pack_sequences_semantics_and_unkeyed_refusal(spark):
    """Contiguous packing: pack = bucket of first-token offset, packs
    may overrun by < max doc tokens, order never changes; un-keyed
    call refused (global-sort foot-gun)."""
    import pytest as _pytest

    from survivor_processing_spark.operators.curation import pack_sequences

    rows = [(1, "s", "a " * 5), (2, "s", "b " * 5), (3, "s", "c " * 5)]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    out = {
        r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset)
        for r in pack_sequences(
            df, "doc_id", "text", budget=8, by=["src"]
        ).collect()
    }
    # "a "*5 -> trailing empty token after split-normalize = 5 tokens
    # doc1 starts at 0 (pack 0), doc2 at 5 (pack 0, overruns), doc3 at
    # 10 (pack 1, offset 2)
    assert out[1] == (5, 0, 0)
    assert out[2] == (5, 0, 5)
    assert out[3] == (5, 1, 2)
    with _pytest.raises(ValueError, match="global-sort"):
        pack_sequences(df, "doc_id", "text", budget=8)


def test_redact_pii_patterns(spark):
    from survivor_processing_spark.operators.curation import redact_pii

    rows = [
        (1, "mail me at a.b+c%d@sub.example.co or call +44 123 45678901 ok"),
        (2, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.text for r in redact_pii(df, "text").collect()}
    assert got[1] == "mail me at <EMAIL> or call <PHONE> ok"
    assert got[2] == "no pii here at all"


def test_stratified_sample_deterministic_and_rated(spark):
    """Same input -> same sample (hash-based, not rand); rates steer
    per-stratum volume; default_rate applies to unknown strata."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.curation import (
        stratified_hash_sample,
    )

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"),
    )
    kw = dict(stratum_col="lang", id_col="doc_id", rates={"en": 0.4},
              default_rate=0.1)
    a = {r.doc_id for r in stratified_hash_sample(df, **kw).collect()}
    b = {r.doc_id for r in stratified_hash_sample(df, **kw).collect()}
    assert a == b  # reproducible
    per = {
        r.lang: r.n
        for r in stratified_hash_sample(df, **kw)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert abs(per["en"] - 2000) < 200   # ~40% of 5000
    assert abs(per["xx"] - 500) < 150    # ~10% of 5000


def test_quality_filter_flags_and_reason(spark):
    from survivor_processing_spark.operators.curation import quality_filter

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "x y z"),                       # too short -> len_ok fails first
        (3, "1234 5678 9012 3456 7890 " * 4),  # numeric -> alpha_ok fails
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.keep, r.reject_reason)
           for r in quality_filter(df, "text", "doc_id").collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, "len_ok")
    assert got[3][0] is False and got[3][1] == "alpha_ok"


def test_star_cc_matches_union_find_on_random_graphs(spark):
    """connected_components (min-label propagation) == driver-side
    union-find ground truth on random graphs (including
    multi-component and dense cases)."""
    rng = random.Random(7)
    for n, m in ((30, 15), (60, 80), (40, 40)):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {x for ab in edges for x in ab}
        want = {x: min(y for y in touched if find(y) == find(x))
                for x in touched}
        df = spark.createDataFrame(edges, "id1 long, id2 long")
        got = {r.node: r.component_id
               for r in connected_components(df).collect()}
        assert got == want, (n, m)


def test_star_cc_long_chain_and_labelprop_guard(spark):
    """A 300-node chain: label propagation at max_iters=5 must RAISE,
    never silently return partial labels."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=5)


def test_ngram_decontaminate_planted(spark):
    """Docs sharing an 8-gram with the bench set are flagged; short
    docs (< n words) and clean docs are not; n_hits counts distinct
    overlapping grams."""
    from survivor_processing_spark.operators.decontam import (
        ngram_decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),      # shares 'a b c d e f g h'
            (2, "z y x w v u t s r q"),      # clean
            (3, "a b c d e f g h"),          # exactly the bench gram
            (4, "a b c d e f g"),            # 7 words: no 8-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "p p a b c d e f g h p p")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in ngram_decontaminate(
            docs, bench, "text", "doc_id", n=8
        ).collect()
    }
    assert got == {1: (1, True), 2: (0, False), 3: (1, True), 4: (0, False)}


def test_dedup_paragraphs_keep_first(spark):
    """Global keep-first by (doc_id, pos); docs reassembled in original
    order; a doc whose every paragraph appeared earlier keeps ''; a
    NULL-text doc emits (0, 0, NULL) — NOT a phantom NULL paragraph
    (the posexplode_outer divergence ROTATION_r12 flagged)."""
    from survivor_processing_spark.operators.dedup import dedup_paragraphs

    p = spark.createDataFrame(
        [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta\nbeta"),
            (3, "gamma\nalpha"),
            (4, "delta\nepsilon\nalpha"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.text_dedup)
        for r in dedup_paragraphs(p, "text", "doc_id", "\n").collect()
    }
    assert got == {
        1: (3, 3, "alpha\nbeta\ngamma"),
        2: (3, 1, "delta"),
        3: (2, 0, ""),
        4: (3, 1, "epsilon"),
        5: (0, 0, None),
    }


@pytest.mark.parametrize("seed", [0, 1])
def test_paragraph_dedup_registered_matches_oracle_on_random_corpora(spark, seed):
    """Random corpora whose ' the ' occurrences become paragraph
    breaks, with a fully duplicated doc (its dedup text is empty) and a
    first paragraph spliced into a later doc: the registered
    paragraph_dedup == its oracle, reassembly order included."""
    rng = random.Random(seed)
    n = rng.randint(2, 12)

    def para():
        return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 6)))

    docs = [
        " the ".join(para() for _ in range(rng.randint(1, 5)))
        for _ in range(n)
    ]
    if n > 2:
        docs[1] = docs[0]
    if n > 3:
        docs[3] = docs[3] + " the " + docs[0].split(" the ")[0]
    got, want = run_registered(
        spark, "paragraph_dedup", "documents", _documents(docs)
    )
    assert got == want, (seed, n)



def test_anti_join_new_entities_registered_matches_oracle(spark):
    """The fixtures give ``anti_join_new_entities`` 0 rows at sf0.001
    and sf0.01, so the oracle gate there checks only its schema.  Over
    a planted pair the values are compared: customers with no orders
    come out, an order with a NULL ``o_custkey`` matches no customer,
    and a customer with a NULL ``c_custkey`` matches no order."""
    customer = pd.DataFrame(
        {
            "c_custkey": pd.array([1, 2, 3, 4, None], dtype="Int64"),
            "c_name": ["a", "b", "c", "d", "nullkey"],
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array([10, 11, 12, 13], dtype="Int64"),
            "o_custkey": pd.array([2, 2, None, 4], dtype="Int64"),
        }
    )
    got, want = run_registered(
        spark,
        "anti_join_new_entities",
        {"customer": customer, "orders": orders},
    )
    assert got == want == [(None, "nullkey"), (1, "a"), (3, "c")]

def test_repetition_stats_exact_fractions(spark):
    """Hand-computed Gopher repetition fractions, incl. the strict
    short-doc (0-gram) path."""
    from survivor_processing_spark.operators.curation import (
        repetition_stats,
    )

    r = spark.createDataFrame(
        [
            (1, "x y x y x y"),   # norm 11 chars; 'x y'*3=9, 'y x'*2=6
            (2, "a b c d"),       # all bigrams distinct, max 1*3
            (3, "solo"),          # < 2 words
        ],
        "doc_id long, text string",
    )
    got = {
        row.doc_id: (row.n_chars, row.top_ngram_char_frac,
                     row.dup_ngram_char_frac)
        for row in repetition_stats(r, "text", "doc_id", n=2).collect()
    }
    assert got[1] == (11, 9 / 11, 15 / 11)
    assert got[2] == (7, 3 / 7, 0.0)
    assert got[3] == (4, 0.0, 0.0)


def test_merge_tiebreak_handles_nested_maps(spark, tmp_path):
    """ADVICE r09: xxhash64 rejects maps nested in arrays/structs too
    — the tiebreak must skip any map-carrying column at any depth, so
    schemas the old dropDuplicates path handled keep merging."""
    from survivor_processing_spark.sinks.merge import (
        _contains_map,
        _row_tiebreak,
        merge_upsert,
    )

    path = str(tmp_path / "nested_map_tbl")
    rows = spark.createDataFrame(
        [(1, "a", [{"k": 1}]), (2, "b", [{"k": 2}])],
        "id int, payload string, tags array<map<string,int>>",
    )
    # type-tree detection: top-level, array-nested, struct-nested
    fields = {f.name: f.dataType for f in rows.schema}
    assert _contains_map(fields["tags"])
    assert not _contains_map(fields["payload"])
    nested = spark.createDataFrame(
        [({"m": {"x": 1}},)], "s struct<m: map<string,int>>"
    )
    assert _contains_map(nested.schema["s"].dataType)
    # the merge itself must run (old code raised AnalysisException)
    merge_upsert(spark, path, rows, keys=["id"])
    merge_upsert(spark, path, rows, keys=["id"])  # replay: idempotent
    got = spark.read.parquet(path)
    assert got.count() == 2
    assert sorted(r["payload"] for r in got.collect()) == ["a", "b"]
    # rows identical in every non-map column tie deterministically on
    # the remaining columns (winner arbitrary but merge still works)
    dup = spark.createDataFrame(
        [(1, "a", [{"k": 9}]), (1, "a", [{"k": 8}])],
        "id int, payload string, tags array<map<string,int>>",
    )
    merge_upsert(spark, path, dup, keys=["id"])
    assert spark.read.parquet(path).count() == 2
    # all-map-columns schema degrades to a constant tiebreak, no raise
    allmap = spark.createDataFrame(
        [({"x": 1},)], "m map<string,int>"
    )
    assert _row_tiebreak(allmap) is not None


