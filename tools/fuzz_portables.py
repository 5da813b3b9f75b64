"""One-shot deep fuzz of the engine-portable gates vs their DuckDB
oracles — the reproducible form of the SCALE.md round-6 fuzz claim.

Covers the portable families on randomized inputs beyond the
committed hypothesis tests' budget — registered gates replay their
REGISTERED oracle SQL, operator-level families replay their
mechanically generated oracles:
- full-Lloyd k-means: random (n, dim, k, iters) with planted
  duplicates and zero vectors (tie stress);
- capped hyperplane LSH: random 64-dim corpora with planted scaled
  near-dups;
- portable SimHash: synthetic word corpora with planted one-word
  edits;
- paragraph dedup, SemDeDup semantic dedup;
- BPE tokenizer training and encode/token budgets, integer-lane
  PageRank, multi-source BFS;
- substring-span dedup (+ cleaned text), product quantization incl.
  ADC top-k;
- exact stratified splits, corpus n-gram coverage scoring, and
  exact-rational grouped OLS;
- inverted postings + BM25 doc-term weights, exact-rational linear
  interpolation, exact winsorized group stats, and Arrow-batched
  Unicode NFC normalization.

Usage: python tools/fuzz_portables.py [seed] [n_trials_per_family]
Exits 1 on any cross-engine mismatch.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from survivor_processing_spark import get_spark  # noqa: E402
from survivor_processing_spark.operators.cluster import (  # noqa: E402
    kmeans_lloyd_portable,
)
from survivor_processing_spark.operators.similarity import (  # noqa: E402
    lsh_portable_pairs,
)
from survivor_processing_spark.queries import REGISTRY  # noqa: E402
from survivor_processing_spark.queries.llm_ann import (  # noqa: E402
    _lloyd_portable_oracle,
)

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi", "rho",
]


def fuzz_lloyd(spark, rng, trials: int) -> int:
    fails = 0
    for _ in range(trials):
        n, dim = rng.randint(3, 30), rng.randint(2, 8)
        k, iters = min(rng.randint(2, 5), n), rng.randint(1, 3)
        vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
        if n > 4:  # tie stress: exact duplicate + zero vector
            vecs[1] = list(vecs[0])
            vecs[2] = [0.0] * dim
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = {
            r["vec_id"]: r["cluster_idx"]
            for r in kmeans_lloyd_portable(
                df, "embedding", "vec_id", k=k, iters=iters
            ).collect()
        }
        con = duckdb.connect()
        con.register(
            "embeddings",
            pd.DataFrame({"vec_id": range(n), "embedding": vecs}),
        )
        want = dict(
            con.execute(
                _lloyd_portable_oracle(k=k, iters=iters, dim=dim)
            ).fetchall()
        )
        if got != want:
            fails += 1
            print(f"LLOYD MISMATCH n={n} dim={dim} k={k} iters={iters}")
    return fails


def fuzz_lsh(spark, rng, trials: int) -> int:
    oracle = REGISTRY["embedding_lsh_portable_pairs"].oracle
    fails = 0
    for _ in range(trials):
        n = rng.randint(5, 40)
        vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(n)]
        for j in range(min(3, n - 1)):  # scaled copies -> cosine 1.0
            vecs[j + 1] = [x * rng.uniform(0.5, 2.0) for x in vecs[0]]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            map(tuple, lsh_portable_pairs(df, 0.5, 4, 16, max_bucket=64).collect())
        )
        con = duckdb.connect()
        con.register(
            "embeddings",
            pd.DataFrame({"vec_id": range(n), "embedding": vecs}),
        )
        want = sorted(map(tuple, con.execute(oracle).fetchall()))
        if got != want:
            fails += 1
            print(f"LSH MISMATCH n={n} got={len(got)} want={len(want)}")
    return fails


def _run_registered(spark, name: str, table: str, pdf: pd.DataFrame):
    """Run REGISTRY[name] over a throwaway parquet fixture dir
    holding ``pdf`` as ``table``, and its oracle over the same frame
    in DuckDB; returns (spark_rows, oracle_rows) sorted.  The
    fixture dir is removed in finally (ADVICE r06)."""
    d = tempfile.mkdtemp()
    try:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            os.path.join(d, f"{table}.parquet")
        )
        got = sorted(map(tuple, REGISTRY[name].fn(spark, d).collect()))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    con = duckdb.connect()
    con.register(table, pdf)
    want = sorted(map(tuple, con.execute(REGISTRY[name].oracle).fetchall()))
    return got, want


def fuzz_paragraph_dedup(spark, rng, trials: int) -> int:
    """q:paragraph_dedup (VERDICT r06 #8): synthetic corpora whose
    ' the ' occurrences derive paragraph breaks, with planted
    cross-document duplicate paragraphs — global keep-first must
    agree with the oracle's window replay, including reassembly
    order and the all-paragraphs-duplicated empty-text case."""
    fails = 0
    for _ in range(trials):
        n = rng.randint(2, 12)

        def para(rng=rng):
            return " ".join(
                rng.choice(WORDS) for _ in range(rng.randint(1, 6))
            )

        docs = [
            " the ".join(para() for _ in range(rng.randint(1, 5)))
            for _ in range(n)
        ]
        if n > 2:
            docs[1] = docs[0]  # full duplicate doc -> empty dedup text
        if n > 3:  # shared boilerplate paragraph spliced mid-doc
            docs[3] = docs[3] + " the " + docs[0].split(" the ")[0]
        pdf = pd.DataFrame(
            {
                "doc_id": range(n),
                "text": docs,
                "source": ["s"] * n,
                "lang": ["en"] * n,
                "n_chars": [len(t) for t in docs],
            }
        )
        got, want = _run_registered(spark, "paragraph_dedup", "documents", pdf)
        if got != want:
            fails += 1
            print(f"PARAGRAPH MISMATCH n={n} got={len(got)} want={len(want)}")
    return fails


def fuzz_semantic_dedup(spark, rng, trials: int) -> int:
    """q:semantic_dedup_portable (new in r7): random 64-dim corpora
    with planted exact duplicates, NULL and ragged vectors — the
    registered query additionally plants its own 0.999-scaled copies
    of every vec_id%10=3 row, so the fuzz drives seed selection,
    integer argmin assignment, the per-cluster cap, and the sqrt-free
    cosine test through the REGISTERED oracle end to end."""
    fails = 0
    for _ in range(trials):
        n = rng.randint(3, 40)
        vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(n)]
        if n > 5:
            vecs[2] = list(vecs[0])  # exact dup -> cos 1, md5 keeper rule
            vecs[4] = None  # NULL vector: quarantined both sides
            vecs[5] = vecs[5][:32]  # ragged: quarantined both sides
        pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs})
        got, want = _run_registered(
            spark, "semantic_dedup_portable", "embeddings", pdf
        )
        if got != want:
            fails += 1
            print(f"SEMDEDUP MISMATCH n={n} got={len(got)} want={len(want)}")
    return fails


def fuzz_bpe(spark, rng, trials: int) -> int:
    """operators/bpe.py: random corpora over tiny alphabets
    (pair-count ties everywhere), words up to the max_word_len
    boundary, self-overlap chains ('aaaa'), and a random max_vocab cap
    — Spark loop vs the generated DuckDB CTE oracle."""
    from survivor_processing_spark.operators.bpe import (
        bpe_portable_oracle,
        bpe_train,
    )

    fails = 0
    for _ in range(trials):
        alphabet = "ab" if rng.random() < 0.3 else "abcde"
        vocab = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
            for _ in range(rng.randint(4, 40))
        ]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
            for _ in range(rng.randint(2, 60))
        ]
        kw = {"n_merges": rng.randint(1, 8)}
        if rng.random() < 0.4:
            kw["max_vocab"] = rng.randint(2, 12)
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
            for r in bpe_train(df, **kw).orderBy("merge_rank").collect()
        ]
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"text": texts}))
        want = [
            (int(a), b, c, int(d))
            for a, b, c, d in con.execute(
                bpe_portable_oracle(**kw)
            ).fetchall()
        ]
        if got != want:
            fails += 1
            print(f"BPE MISMATCH kw={kw} got={got[:3]} want={want[:3]}")
    return fails


def fuzz_pagerank(spark, rng, trials: int) -> int:
    """operators/pagerank.py: random digraphs with self-loops,
    parallel edges, dangling nodes, and disconnected components —
    integer-lane iteration vs the generated oracle."""
    from survivor_processing_spark.operators.pagerank import (
        pagerank_portable,
        pagerank_portable_oracle,
    )

    fails = 0
    for _ in range(trials):
        n = rng.randint(2, 60)
        m = rng.randint(1, 5 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        iters = rng.randint(1, 6)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank_portable(df, n_iters=iters).collect()
        }
        con = duckdb.connect()
        con.register(
            "edges",
            pd.DataFrame(edges, columns=["src", "dst"]).astype("int64"),
        )
        want = dict(
            con.execute(pagerank_portable_oracle(iters)).fetchall()
        )
        if got != want:
            fails += 1
            print(f"PAGERANK MISMATCH n={n} m={m} iters={iters}")
    return fails


def fuzz_simhash(spark, rng, trials: int) -> int:
    fails = 0
    for _ in range(trials):
        n = rng.randint(4, 25)
        docs = [
            " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 30)))
            for _ in range(n)
        ]
        if n > 3:  # planted near-dups: identical + one-word edit
            docs[1] = docs[0]
            w = docs[0].split()
            w[0] = "OMEGA"
            docs[2] = " ".join(w)
        pdf = pd.DataFrame(
            {
                "doc_id": range(n),
                "text": docs,
                "source": ["s"] * n,
                "lang": ["en"] * n,
                "n_chars": [len(d) for d in docs],
            }
        )
        # per-trial fixture dir removed in finally — mkdtemp without
        # cleanup leaked trials×parquet dirs per fuzz run (ADVICE r06)
        d = tempfile.mkdtemp()
        try:
            spark.createDataFrame(pdf).write.mode("overwrite").parquet(
                os.path.join(d, "documents.parquet")
            )
            got = sorted(
                map(
                    tuple,
                    REGISTRY["simhash_portable_pairs"].fn(spark, d).collect(),
                )
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
        con = duckdb.connect()
        con.register("documents", pdf)
        want = sorted(
            map(
                tuple,
                con.execute(REGISTRY["simhash_portable_pairs"].oracle).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print(f"SIMHASH MISMATCH n={n} got={len(got)} want={len(want)}")
    return fails


def fuzz_substring(spark, rng, trials: int) -> int:
    """operators/substring.py: random corpora with planted shared
    boilerplate, within-doc repeats, short docs, and random (n,
    min_count) — spans AND cleaned text vs the generated oracles."""
    from survivor_processing_spark.operators.substring import (
        substring_clean_oracle,
        substring_dedup_clean,
        substring_dedup_spans,
        substring_spans_oracle,
    )

    fails = 0
    vocab = [f"w{i}" for i in range(25)]
    for _ in range(trials):
        n = rng.randint(2, 6)
        min_count = rng.choice([2, 2, 3])
        boiler = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(n, 3 * n))
        )
        texts = {}
        for d in range(rng.randint(5, 30)):
            words = [
                rng.choice(vocab) for _ in range(rng.randint(0, 35))
            ]
            if rng.random() < 0.5:
                ins = rng.randint(0, len(words))
                words[ins:ins] = boiler.split()
            if rng.random() < 0.15 and words:  # within-doc repeat
                words = words + words
            texts[d] = " ".join(words)
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got_s = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in substring_dedup_spans(
                df, n=n, min_count=min_count
            ).collect()
        )
        got_c = sorted(
            (r["doc_id"], r["clean_text"], r["n_removed_tokens"])
            for r in substring_dedup_clean(
                df, n=n, min_count=min_count
            ).collect()
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        want_s = sorted(
            (int(a), int(b), int(c))
            for a, b, c, _ in con.execute(
                substring_spans_oracle(n=n, min_count=min_count)
            ).fetchall()
        )
        want_c = sorted(
            (int(a), b, int(d))
            for a, b, _, d in con.execute(
                substring_clean_oracle(n=n, min_count=min_count)
            ).fetchall()
        )
        if got_s != want_s or got_c != want_c:
            fails += 1
            print(f"SUBSTRING MISMATCH n={n} mc={min_count}")
    return fails


def fuzz_bpe_encode(spark, rng, trials: int) -> int:
    """operators/bpe.py token budgets: random corpora mixing
    alpha/OOV/empty docs with random (n_merges, max_vocab,
    encode_max_len) — Spark train+encode vs the guarded generated
    oracle (early-stop corpora included)."""
    from survivor_processing_spark.operators.bpe import (
        bpe_token_budget,
        bpe_token_budget_oracle,
    )

    fails = 0
    for _ in range(trials):
        alpha = "abcd"
        vocab = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10)))
            for _ in range(rng.randint(3, 20))
        ] + ["x9!", "42", ""]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
            for _ in range(rng.randint(2, 40))
        ]
        kw = {
            "n_merges": rng.randint(1, 6),
            "encode_max_len": rng.choice([8, 32]),
        }
        if rng.random() < 0.3:
            kw["max_vocab"] = rng.randint(2, 10)
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["n_words"], r["n_oov_words"])
            for r in bpe_token_budget(df, **kw).collect()
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        want = sorted(
            (int(a), int(b), int(c), int(d))
            for a, b, c, d in con.execute(
                bpe_token_budget_oracle(**kw)
            ).fetchall()
        )
        if got != want:
            fails += 1
            print(f"BPE-ENCODE MISMATCH kw={kw}")
    return fails


def fuzz_pq(spark, rng, trials: int) -> int:
    """operators/pq.py: random (n, m, k, iters, dim) with planted
    duplicates, zero vectors, and hygiene poison (NULL vector / NULL
    lane / ragged) — codes+recon AND the ADC top-k (query = a
    perturbed corpus vector) vs the generated oracles."""
    from survivor_processing_spark.operators.pq import (
        pq_adc_topk,
        pq_adc_topk_oracle,
        pq_portable_oracle,
        pq_train_encode,
    )

    fails = 0
    for _ in range(trials):
        m = rng.choice([2, 3, 4])
        sub = rng.randint(2, 5)
        dim = m * sub
        n, k, iters = rng.randint(6, 40), rng.randint(2, 6), rng.randint(1, 3)
        vecs = {
            i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
        }
        vecs[1] = list(vecs[0])  # duplicate
        vecs[2] = [0.0] * dim  # zero vector
        rows = [(i, v) for i, v in vecs.items()] + [
            (900, None),
            (901, [1.0] * (dim + 1)),
            (902, [0.5] * (dim - 1) + [None]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        query = [
            x + rng.uniform(-0.05, 0.05) for x in vecs[rng.randrange(n)]
        ]
        got_e = sorted(
            (r["vec_id"], tuple(r["codes"]), r["recon_err"])
            for r in pq_train_encode(
                df, m=m, k=k, iters=iters, dim=dim
            ).collect()
        )
        got_a = [
            (r["vec_id"], tuple(r["codes"]), r["adc_dist"])
            for r in pq_adc_topk(
                df, query, topk=5, m=m, k=k, iters=iters
            ).collect()
        ]
        con = duckdb.connect()
        con.register(
            "embeddings",
            pd.DataFrame(
                {
                    "vec_id": [r[0] for r in rows],
                    "embedding": [r[1] for r in rows],
                }
            ),
        )
        want_e = sorted(
            (int(i), tuple(int(c) for c in codes), int(e))
            for i, codes, e in con.execute(
                pq_portable_oracle(m=m, k=k, iters=iters, dim=dim)
            ).fetchall()
        )
        want_a = [
            (int(i), tuple(int(c) for c in codes), int(d))
            for i, codes, d in con.execute(
                pq_adc_topk_oracle(query, topk=5, m=m, k=k, iters=iters)
            ).fetchall()
        ]
        if got_e != want_e or got_a != want_a:
            fails += 1
            print(f"PQ MISMATCH m={m} k={k} iters={iters} dim={dim}")
    return fails


def fuzz_bfs(spark, rng, trials: int) -> int:
    """operators/bfs.py: random digraphs with self-loops, parallel
    edges, unreachable components, and random source sets/horizons —
    frontier BFS vs the generated per-hop oracle."""
    from survivor_processing_spark.operators.bfs import (
        bfs_levels,
        bfs_levels_oracle,
    )

    fails = 0
    for _ in range(trials):
        n = rng.randint(3, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 4 * n))
        ]
        sources = rng.sample(range(n), rng.randint(1, min(4, n)))
        iters = rng.randint(0, 6)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["level"]
            for r in bfs_levels(df, sources, n_iters=iters).collect()
        }
        con = duckdb.connect()
        con.register(
            "edges",
            pd.DataFrame(edges, columns=["src", "dst"]).astype("int64"),
        )
        want = dict(
            con.execute(bfs_levels_oracle(sources, iters)).fetchall()
        )
        if got != want:
            fails += 1
            print(f"BFS MISMATCH n={n} sources={sources} iters={iters}")
    return fails


def fuzz_stratified_split(spark, rng, trials: int) -> int:
    """operators/curation.py stratified_exact_split: random strata
    distributions (incl. 1-row and hot strata) and random weight
    vectors — per-(stratum, split) counts vs the generated oracle plus
    the exact floor-count property."""
    from survivor_processing_spark.operators.curation import (
        stratified_exact_split,
        stratified_exact_split_oracle,
    )

    fails = 0
    for _ in range(trials):
        langs = [f"l{i}" for i in range(rng.randint(1, 6))]
        rows = [
            (i, rng.choice(langs)) for i in range(rng.randint(1, 300))
        ]
        n_splits = rng.randint(1, 4)
        weights = [
            (f"s{j}", rng.randint(1, 9)) for j in range(n_splits)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        import pyspark.sql.functions as F

        got = sorted(
            (r["lang"], r["split"], r["n_docs"])
            for r in stratified_exact_split(
                df, ["lang"], "doc_id", weights=weights
            )
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"))
            .collect()
        )
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "lang"])
        )
        want = sorted(
            (a, b, int(c))
            for a, b, c in con.execute(
                stratified_exact_split_oracle(["lang"], weights=weights)
            ).fetchall()
        )
        total = sum(w for _, w in weights)
        per_lang: dict[str, dict[str, int]] = {}
        for lang, split, c in got:
            per_lang.setdefault(lang, {})[split] = c
        exact_ok = True
        for lang, counts in per_lang.items():
            nn = sum(counts.values())
            cum, prev = 0, 0
            for name, w in weights[:-1]:
                cum += w
                cut = nn * cum // total
                if counts.get(name, 0) != cut - prev:
                    exact_ok = False
                prev = cut
        if got != want or not exact_ok:
            fails += 1
            print(f"SPLIT MISMATCH weights={weights}")
    return fails


def fuzz_ngram_coverage(spark, rng, trials: int) -> int:
    """operators/curation.py ngram_coverage_score: random corpora with
    planted gibberish and heavy repetition, random (n, min_ref_count)
    — counts vs the generated oracle."""
    from survivor_processing_spark.operators.curation import (
        ngram_coverage_oracle,
        ngram_coverage_score,
    )

    fails = 0
    for _ in range(trials):
        vocab = [f"v{i}" for i in range(rng.randint(5, 20))]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(0, 30))
            )
            for d in range(rng.randint(3, 40))
        }
        if rng.random() < 0.5:  # planted unique-gibberish doc
            texts[500] = " ".join(f"zz{i}" for i in range(8))
        kw = {
            "n": rng.randint(1, 4),
            "min_ref_count": rng.randint(1, 4),
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_grams"], r["n_covered"])
            for r in ngram_coverage_score(df, **kw).collect()
        }
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        want = {
            int(i): (int(g), int(c))
            for i, g, c in con.execute(
                ngram_coverage_oracle(**kw)
            ).fetchall()
        }
        if got != want:
            fails += 1
            print(f"COVERAGE MISMATCH kw={kw}")
    return fails


def fuzz_containment(spark, rng, trials: int) -> int:
    """operators/dedup.py ngram_containment_pairs: random small
    corpora with planted subset-duplication (a short doc embedded
    verbatim in a long one), random thresholds and shingle widths —
    the ordered pair set and every containment value vs the generated
    oracle, plus the planted subset must surface at containment 1.0 in
    the short->long direction."""
    from survivor_processing_spark.operators.dedup import (
        ngram_containment_oracle,
        ngram_containment_pairs,
    )

    fails = 0
    for _ in range(trials):
        vocab = [f"v{i}" for i in range(rng.randint(6, 16))]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 25))
            )
            for d in range(rng.randint(4, 20))
        }
        planted = None
        if rng.random() < 0.6 and texts:
            src = rng.choice(list(texts))
            host = " ".join(
                f"h{i}" for i in range(rng.randint(10, 25))
            )
            texts[900] = f"{host} {texts[src]} {host}"
            planted = (src, 900)
        t = rng.choice([0.25, 0.5, 0.75, 0.9])
        n = rng.choice([2, 3])
        df = spark.createDataFrame(
            sorted(texts.items()), "doc_id long, text string"
        )
        got = {
            (r["src"], r["dst"]): round(r["containment"], 9)
            for r in ngram_containment_pairs(
                df, "text", "doc_id", t, shingle_n=n, max_posting=None
            ).collect()
        }
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        want = {
            (int(a), int(b)): round(float(c), 9)
            for a, b, c in con.execute(
                ngram_containment_oracle(t, shingle_n=n)
            ).fetchall()
        }
        if got != want:
            fails += 1
            print(f"CONTAINMENT MISMATCH t={t} n={n}")
        if planted and planted[0] != planted[1]:
            src, host = planted
            # the subset guarantee holds only for docs with >= n
            # words: shorter docs degrade to a partial whole-doc
            # shingle that never re-appears as a full n-gram of the
            # host (shingles_from_words' short-doc contract)
            if (
                len(texts[src].split()) >= n
                and got.get((src, host), 0.0) != 1.0
            ):
                fails += 1
                print(f"CONTAINMENT planted subset missed {planted}")
    return fails


def fuzz_ols(spark, rng, trials: int) -> int:
    """operators/regression.py ols_trend_exact: random grouped point
    clouds with planted perfect lines, degenerate
    single-point/constant-x groups, NULLs, and random scales —
    rational outputs vs the generated oracle."""
    from survivor_processing_spark.operators.regression import (
        ols_trend_exact,
        ols_trend_oracle,
    )

    fails = 0
    for _ in range(trials):
        scale = rng.choice([1, 10, 100, 1000])
        rows = []
        for g in range(rng.randint(1, 5)):
            kind = rng.random()
            npts = rng.randint(1, 60)
            if kind < 0.2:  # perfect line
                a, b = rng.randint(-3, 3), rng.randint(-5, 5)
                rows += [
                    (f"g{g}", float(x), float(a * x + b))
                    for x in range(npts)
                ]
            elif kind < 0.3:  # constant x (degenerate)
                rows += [
                    (f"g{g}", 2.0, rng.uniform(-5, 5))
                    for _ in range(npts)
                ]
            else:
                rows += [
                    (f"g{g}", rng.uniform(-8, 8), rng.uniform(-8, 8))
                    for _ in range(npts)
                ]
        if rng.random() < 0.4:
            rows.append(("g0", None, 1.0))
            rows.append(("g0", 1.0, None))
        df = spark.createDataFrame(rows, "g string, x double, y double")
        got = sorted(
            map(tuple, ols_trend_exact(df, ["g"], "x", "y", scale).collect())
        )
        con = duckdb.connect()
        con.register(
            "events", pd.DataFrame(rows, columns=["g", "x", "y"])
        )
        want = sorted(
            (g, *(int(v) for v in rest))
            for g, *rest in con.execute(
                ols_trend_oracle(["g"], "x", "y", scale)
            ).fetchall()
        )
        if got != want:
            fails += 1
            print(f"OLS MISMATCH scale={scale} n={len(rows)}")
    return fails


def fuzz_retrieval(spark, rng, trials: int) -> int:
    """operators/retrieval.py inverted_postings +
    bm25_doc_term_scores: random corpora with stopword-class hot
    tokens, empty docs, and random min_df/max_df cuts and k1/b
    rationals — posting strings and exact/float score columns vs the
    generated oracles."""
    from survivor_processing_spark.operators.retrieval import (
        bm25_doc_term_scores,
        bm25_scores_oracle,
        inverted_postings,
        inverted_postings_oracle,
    )

    fails = 0
    for _ in range(trials):
        vocab = [f"t{i}" for i in range(rng.randint(3, 15))]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(0, 25))
            )
            for d in range(rng.randint(2, 30))
        }
        if rng.random() < 0.5:  # stopword-class token in every doc
            texts = {d: (t + " hot") if t else "hot" for d, t in texts.items()}
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        kw = {"min_df": rng.randint(1, 3)}
        if rng.random() < 0.5:
            kw["max_df"] = rng.randint(kw["min_df"], 25)
        got = sorted(map(tuple, inverted_postings(df, **kw).collect()))
        want = sorted(
            map(tuple, con.execute(inverted_postings_oracle(**kw)).fetchall())
        )
        if got != want:
            fails += 1
            print(f"POSTINGS MISMATCH kw={kw}")
            continue
        bkw = {
            "k1_num": rng.randint(1, 4),
            "k1_den": rng.randint(1, 4),
            "b_num": rng.randint(0, 2),
            "top_terms": rng.randint(1, 5),
        }
        bkw["b_den"] = rng.randint(max(1, bkw["b_num"]), 4)
        got = sorted(map(tuple, bm25_doc_term_scores(df, **bkw).collect()))
        want = sorted(
            map(tuple, con.execute(bm25_scores_oracle(**bkw)).fetchall())
        )
        if got != want:
            fails += 1
            print(f"BM25 MISMATCH kw={bkw}")
    return fails


def fuzz_interpolate(spark, rng, trials: int) -> int:
    """operators/timeseries.py interpolate_linear: random multi-key
    integer series with NULL runs, leading/trailing NULLs, all-NULL
    keys, and negative values — rational lanes vs the generated
    oracle."""
    from survivor_processing_spark.operators.timeseries import (
        interpolate_linear,
        interpolate_linear_oracle,
    )

    fails = 0
    for _ in range(trials):
        rows = []
        for k in range(rng.randint(1, 6)):
            ts = sorted(rng.sample(range(0, 400), rng.randint(0, 20)))
            null_p = rng.choice([0.2, 0.5, 0.9, 1.0])
            for t in ts:
                y = (
                    None
                    if rng.random() < null_p
                    else rng.randint(-500, 500)
                )
                rows.append((f"k{k}", t, y))
        if not rows:
            rows = [("k0", 0, 1)]
        got = sorted(
            map(
                tuple,
                interpolate_linear(
                    spark.createDataFrame(rows, "k string, t long, yq long"),
                    ["k"],
                    "t",
                    "yq",
                ).collect(),
            )
        )
        con = duckdb.connect()
        values = ", ".join(
            f"('{k}', {t}, {'NULL' if y is None else y})" for k, t, y in rows
        )
        src = f"SELECT * FROM (VALUES {values}) AS v(k, t, yq)"
        want = sorted(
            map(
                tuple,
                con.execute(
                    interpolate_linear_oracle(["k"], "t", "yq", src)
                ).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print("INTERPOLATE MISMATCH")
    return fails


def fuzz_winsorize(spark, rng, trials: int) -> int:
    """operators/curation.py winsorize_group_stats: random groups with
    heavy ties, NULLs, 1-row groups, and random rational percentiles —
    bounds/clip counts/winsorized sums vs the generated oracle."""
    from survivor_processing_spark.operators.curation import (
        winsorize_group_stats,
        winsorize_oracle,
    )

    fails = 0
    for _ in range(trials):
        rows = []
        for g in range(rng.randint(1, 5)):
            vals = rng.randint(1, 60)
            tie_pool = list(range(-5, 6)) if rng.random() < 0.5 else None
            for _ in range(vals):
                if rng.random() < 0.1:
                    v = None
                elif tie_pool is not None:
                    v = rng.choice(tie_pool)
                else:
                    v = rng.randint(-10**6, 10**6)
                rows.append((f"g{g}", v))
            rows.append((f"g{g}", 0))  # ensure non-empty after NULL cut
        lo_d = rng.randint(1, 20)
        lo_n = rng.randint(0, lo_d)
        hi_d = rng.randint(1, 20)
        hi_n = rng.randint(0, hi_d)
        if lo_n * hi_d > hi_n * lo_d:
            lo_n, lo_d, hi_n, hi_d = hi_n, hi_d, lo_n, lo_d
        kw = {"p_lo": (lo_n, lo_d), "p_hi": (hi_n, hi_d)}
        got = sorted(
            map(
                tuple,
                winsorize_group_stats(
                    spark.createDataFrame(rows, "g string, v long"),
                    ["g"],
                    "v",
                    **kw,
                ).collect(),
            )
        )
        con = duckdb.connect()
        values = ", ".join(
            f"('{g}', {'NULL' if v is None else v})" for g, v in rows
        )
        src = f"SELECT * FROM (VALUES {values}) AS t(g, v)"
        want = sorted(
            map(
                tuple,
                con.execute(winsorize_oracle(["g"], "v", src, **kw)).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print(f"WINSORIZE MISMATCH kw={kw}")
    return fails


def fuzz_textnorm(spark, rng, trials: int) -> int:
    """operators/textnorm.py nfc_normalize_text: random combining-mark
    soups over latin/greek/hangul bases with NULL and empty docs —
    pandas NFC vs DuckDB nfc_normalize."""
    from survivor_processing_spark.operators.textnorm import (
        nfc_normalize_oracle,
        nfc_normalize_text,
    )

    bases = "aeiouAEIOU\u1100\u1161\uac00\u03b1\u03b2\u03b3"
    marks = ["\u0300", "\u0301", "\u0308", "\u030a", "\u0327", ""]
    fails = 0
    for _ in range(trials):
        texts = {}
        for i in range(rng.randint(2, 25)):
            r = rng.random()
            if r < 0.1:
                texts[i] = None
            elif r < 0.2:
                texts[i] = ""
            else:
                texts[i] = "".join(
                    rng.choice(bases) + rng.choice(marks)
                    for _ in range(rng.randint(1, 30))
                )
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = sorted(
            map(tuple, nfc_normalize_text(df).collect()),
            key=lambda r: r[0],
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        want = sorted(
            map(tuple, con.execute(nfc_normalize_oracle()).fetchall()),
            key=lambda r: r[0],
        )
        if got != want:
            fails += 1
            print("TEXTNORM MISMATCH")
    return fails


def fuzz_collocation(spark, rng, trials: int) -> int:
    """operators/collocation.py dice_collocations: random short-vocab
    corpora with punctuation, case, and empty docs — Spark vs the
    generated DuckDB oracle."""
    from survivor_processing_spark.operators.collocation import (
        dice_collocations,
        dice_collocations_oracle,
    )

    vocab = ["ab", "cd", "ef", "gh", "i9", "J0", "k"]
    fails = 0
    for _ in range(trials):
        texts = [
            " ".join(
                rng.choice(vocab) + rng.choice(["", ",", ".", "!"])
                for _ in range(rng.randrange(0, 15))
            )
            for _ in range(rng.randrange(1, 20))
        ]
        kw = dict(
            min_count=rng.choice([1, 2, 3]),
            scale=rng.choice([1, 1000, 10**9]),
        )
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = sorted(map(tuple, dice_collocations(df, **kw).collect()))
        con = duckdb.connect()
        con.register("docs", pd.DataFrame({"text": texts}))
        want = sorted(
            map(
                tuple,
                con.execute(
                    dice_collocations_oracle("SELECT text FROM docs", **kw)
                ).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print("COLLOCATION MISMATCH", kw)
    return fails


def fuzz_mad(spark, rng, trials: int) -> int:
    """operators/curation.py mad_outlier_stats: random tie-heavy
    groups with NULLs and negative values — Spark vs the generated
    DuckDB oracle."""
    from survivor_processing_spark.operators.curation import (
        mad_outlier_oracle,
        mad_outlier_stats,
    )

    fails = 0
    for _ in range(trials):
        rows = [
            (
                rng.choice(["a", "b", "c", "d"]),
                rng.choice([None] + list(range(-30, 31)) + [0, 0, 5, 5]),
            )
            for _ in range(rng.randrange(1, 80))
        ]
        c = rng.choice([(3, 1), (5, 2), (0, 1), (1, 3)])
        df = spark.createDataFrame(rows, "g string, v long")
        got = sorted(
            map(tuple, mad_outlier_stats(df, ["g"], "v", c=c).collect())
        )
        con = duckdb.connect()
        con.register(
            "src_t",
            pd.DataFrame(rows, columns=["g", "v"]).astype({"v": "Int64"}),
        )
        want = sorted(
            map(
                tuple,
                con.execute(
                    mad_outlier_oracle(
                        ["g"], "v", "SELECT g, v FROM src_t", c=c
                    )
                ).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print("MAD MISMATCH", c)
    return fails



def fuzz_kanon(spark, rng, trials: int) -> int:
    """operators/curation.py k_anonymity_stats: random
    quasi-identifier tables — Spark vs the generated oracle, plus the
    row-level/summary consistency invariant."""
    from survivor_processing_spark.operators.curation import (
        k_anonymity_oracle,
        k_anonymity_stats,
        k_anonymity_suppress,
    )

    fails = 0
    for _ in range(trials):
        rows = [
            (rng.choice(["x", "y", "z"]), rng.randrange(1, 5), f"p{i}")
            for i in range(rng.randrange(1, 60))
        ]
        k = rng.choice([1, 2, 3, 4, 8])
        df = spark.createDataFrame(rows, "zipc string, age long, payload string")
        got = tuple(k_anonymity_stats(df, ["zipc", "age"], k).collect()[0])
        con = duckdb.connect()
        con.register(
            "src_t", pd.DataFrame(rows, columns=["zipc", "age", "payload"])
        )
        want = con.execute(
            k_anonymity_oracle(["zipc", "age"], k, "SELECT * FROM src_t")
        ).fetchall()[0]
        kept = k_anonymity_suppress(df, ["zipc", "age"], k).count()
        if got != want or got[2] != kept or got[2] + got[3] != len(rows):
            fails += 1
            print("KANON MISMATCH", k)
    return fails




def fuzz_urlnorm(spark, rng, trials: int) -> int:
    """operators/urlnorm.py url_canonicalize: adversarial
    fragment-soup URLs (metachars, stray separators, NULLs) — the
    Spark expression vs the DuckDB expression, both emitted by the
    same generator."""
    from survivor_processing_spark.operators.urlnorm import (
        url_canonicalize,
        url_canonicalize_oracle,
    )

    frags = [
        "http://", "HTTPS://", "fTp://", "a.COM", "B.org", ":80",
        ":443", ":8080", "/p", "/P/", "//", "?", "a=1", "&&", "&",
        "utm_a=2", "ref=3", "fbclid=9", "#f#g", "=", "x y", "  ", ".",
    ]
    fails = 0
    for _ in range(trials):
        urls = {}
        for i in range(rng.randrange(2, 30)):
            urls[i] = (
                None
                if rng.random() < 0.08
                else "".join(
                    rng.choice(frags) for _ in range(rng.randrange(1, 9))
                )
            )
        df = spark.createDataFrame(
            list(urls.items()), "id long, url string"
        )
        got = sorted(
            (r["id"], r["url_canon"])
            for r in url_canonicalize(df).collect()
        )
        con = duckdb.connect()
        con.register(
            "src_t",
            pd.DataFrame({"id": list(urls), "url": list(urls.values())}),
        )
        want = sorted(
            (r[0], r[2])
            for r in con.execute(
                url_canonicalize_oracle("SELECT * FROM src_t")
            ).fetchall()
        )
        if got != want:
            fails += 1
            print("URLNORM MISMATCH")
    return fails


def fuzz_fingerprint(spark, rng, trials: int) -> int:
    """operators/fingerprint.py content_fingerprint: random NULL-heavy
    tables — Spark vs the generated oracle, plus the
    order/partitioning-invariance property."""
    from survivor_processing_spark.operators.fingerprint import (
        content_fingerprint,
        content_fingerprint_oracle,
    )

    fails = 0
    for _ in range(trials):
        rows = [
            (
                rng.randrange(-1000, 1000),
                rng.choice([None, "", "x", "yy", "a b", "0"]),
            )
            for _ in range(rng.randrange(0, 120))
        ]
        df = spark.createDataFrame(rows, "k long, s string")
        got = tuple(content_fingerprint(df, ["k", "s"]).collect()[0])
        shuf = tuple(
            content_fingerprint(
                df.repartition(rng.choice([1, 5, 32])), ["k", "s"]
            )
            .collect()[0]
        )
        con = duckdb.connect()
        con.register(
            "src_t",
            pd.DataFrame(rows, columns=["k", "s"]).astype({"k": "int64"}),
        )
        want = con.execute(
            content_fingerprint_oracle(["k", "s"], "SELECT * FROM src_t")
        ).fetchall()[0]
        if got != want or got != shuf:
            fails += 1
            print("FINGERPRINT MISMATCH")
    return fails



def fuzz_bigram_fluency(spark, rng, trials: int) -> int:
    """operators/collocation.py bigram_fluency: random short-vocab
    corpora — Spark vs the generated oracle."""
    from survivor_processing_spark.operators.collocation import (
        bigram_fluency,
        bigram_fluency_oracle,
    )

    vocab = ["aa", "bb", "cc", "dd", "e1", "f"]
    fails = 0
    for _ in range(trials):
        rows = [
            (
                i,
                " ".join(
                    rng.choice(vocab) + rng.choice(["", ".", ","])
                    for _ in range(rng.randrange(0, 14))
                ),
            )
            for i in range(rng.randrange(1, 18))
        ]
        kw = dict(scale=rng.choice([1000, 1_000_000]))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(map(tuple, bigram_fluency(df, **kw).collect()))
        con = duckdb.connect()
        con.register("src_t", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = sorted(
            map(
                tuple,
                con.execute(
                    bigram_fluency_oracle("SELECT * FROM src_t", **kw)
                ).fetchall(),
            )
        )
        if got != want:
            fails += 1
            print("BIGRAM_FLUENCY MISMATCH", kw)
    return fails


def fuzz_graphstats(spark, rng, trials: int) -> int:
    """operators/graphstats.py triangle_counts: random multigraphs
    with self-loops and flips — Spark vs the generated oracle vs a
    brute-force itertools reference."""
    import itertools

    from survivor_processing_spark.operators.graphstats import (
        triangle_counts,
        triangle_counts_oracle,
    )

    fails = 0
    for _ in range(trials):
        n = rng.randrange(3, 18)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(2, 60))
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(map(tuple, triangle_counts(df).collect()))
        con = duckdb.connect()
        con.register("src_t", pd.DataFrame(edges, columns=["src", "dst"]))
        want = sorted(
            map(
                tuple,
                con.execute(
                    triangle_counts_oracle("SELECT * FROM src_t")
                ).fetchall(),
            )
        )
        es = {(min(s, d), max(s, d)) for s, d in edges if s != d}
        adj: dict[int, set[int]] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri = {m: 0 for m in adj}
        for u, v, w in itertools.combinations(sorted(adj), 3):
            if v in adj[u] and w in adj[u] and w in adj[v]:
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
        brute = sorted(
            (m, len(adj[m]), tri[m], len(adj[m]) * (len(adj[m]) - 1) // 2)
            for m in adj
        )
        if got != want or got != brute:
            fails += 1
            print("GRAPHSTATS MISMATCH")
    return fails



def fuzz_zonemap(spark, rng, trials: int) -> int:
    """operators/zonemap.py: random file layouts and row-group sizes —
    manifest == DuckDB parquet_metadata oracle, and every random range
    probe satisfies pruned ≡ full+filter."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.zonemap import (
        build_zonemap,
        pruned_scan,
        zonemap_oracle,
    )

    fails = 0
    for _ in range(trials):
        d = tempfile.mkdtemp()
        try:
            n_files = rng.randrange(1, 5)
            all_k = []
            all_s = []
            for i in range(n_files):
                ks = [
                    rng.randrange(-1000, 1000)
                    for _ in range(rng.randrange(1, 40))
                ]
                # numeric-looking STRINGS: bytewise ordering must win
                # on both engines (the r7 ADVICE trap)
                ss = [str(rng.randrange(0, 2000)) for _ in ks]
                all_k.extend(ks)
                all_s.extend(ss)
                pq.write_table(
                    pa.table({"k": ks, "s": ss}),
                    os.path.join(d, f"f{i}.parquet"),
                    row_group_size=rng.choice([2, 7, 1000]),
                )
            zm = build_zonemap(spark, d, ["k", "s"])
            got = sorted(map(tuple, zm.collect()))
            con = duckdb.connect()
            want = sorted(
                map(
                    tuple,
                    con.execute(zonemap_oracle(d, ["k", "s"])).fetchall(),
                )
            )
            lo = rng.randrange(-1100, 1100)
            hi = lo + rng.randrange(0, 800)
            pruned = sorted(
                r["k"]
                for r in pruned_scan(spark, d, zm, "k", lo, hi).collect()
            )
            ref = sorted(x for x in all_k if lo <= x <= hi)
            slo = str(rng.randrange(0, 2000))
            shi = max(slo, str(rng.randrange(0, 2000)))
            pruned_s = sorted(
                r["s"]
                for r in pruned_scan(
                    spark, d, zm, "s", slo, shi, cast="string"
                ).collect()
            )
            ref_s = sorted(x for x in all_s if slo <= x <= shi)
            if got != want or pruned != ref or pruned_s != ref_s:
                fails += 1
                print("ZONEMAP MISMATCH", lo, hi, slo, shi)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return fails


def fuzz_snapshot(spark, rng, trials: int) -> int:
    """operators/snapshot.py: random commit sequences (adds/removes
    over random parquet files) — log replay == a pure-Python reference
    set, and the per-version Spark summary == the DuckDB read of the
    same replayed file lists."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        checkpoint_snapshot,
        commit_version,
        snapshot_files,
        snapshot_summary,
        snapshot_summary_oracle,
    )

    fails = 0
    for _ in range(trials):
        d = _tempfile.mkdtemp()
        try:
            n_files = rng.randrange(2, 7)
            names = []
            for i in range(n_files):
                nm = f"f{i}.parquet"
                ks = [rng.randrange(0, 100) for _ in range(rng.randrange(1, 20))]
                pq.write_table(
                    pa.table({"k": ks, "amt": [float(k) for k in ks]}),
                    _os.path.join(d, nm),
                )
                names.append(nm)
            # random commit sequence with a python reference replay
            ref_active: set = set()
            ref_by_version = {}
            n_commits = rng.randrange(1, 6)
            for _c in range(n_commits):
                inactive = [n for n in names if n not in ref_active]
                adds = rng.sample(
                    inactive, rng.randrange(0, len(inactive) + 1)
                )
                removable = sorted(ref_active)
                removes = rng.sample(
                    removable, rng.randrange(0, len(removable) + 1)
                )
                if not adds and not removes:
                    adds = rng.sample(inactive, 1) if inactive else []
                    removes = (
                        rng.sample(removable, 1) if not adds else removes
                    )
                if not adds and not removes:
                    continue
                v = commit_version(d, adds=adds, removes=removes)
                ref_active |= set(adds)
                ref_active -= set(removes)
                ref_by_version[v] = sorted(ref_active)
                # r11: a randomly-placed log checkpoint must be
                # invisible to every replay below
                if rng.random() < 0.3:
                    checkpoint_snapshot(d)
            if not ref_by_version:
                continue
            ok = all(
                snapshot_files(d, v) == want
                for v, want in ref_by_version.items()
            )
            versions = sorted(ref_by_version)
            got = sorted(
                tuple(r)
                for r in snapshot_summary(
                    spark, d, versions, "amt"
                ).collect()
            )
            con = duckdb.connect()
            want = sorted(
                tuple(r)
                for r in con.execute(
                    snapshot_summary_oracle(d, versions, "amt")
                ).fetchall()
            )
            if not ok or got != want:
                fails += 1
                print("SNAPSHOT MISMATCH", versions)
        finally:
            _shutil.rmtree(d, ignore_errors=True)
    return fails


def fuzz_stream_join(spark, rng, trials: int) -> int:
    """streaming/joins.py: random two-sided event sets — the interval
    join in static mode == the generated DuckDB oracle (the
    availableNow replay ≡ static equivalence is pinned separately in
    tests/test_stream_join.py)."""
    from survivor_processing_spark.streaming.joins import (
        stream_interval_join,
        stream_interval_join_oracle,
    )

    fails = 0
    for _ in range(trials):
        n_l = rng.randrange(1, 40)
        n_r = rng.randrange(1, 40)
        lrows = [
            (rng.randrange(0, 5), i, rng.randrange(0, 10000))
            for i in range(n_l)
        ]
        rrows = [
            (rng.randrange(0, 5), i, rng.randrange(0, 10000))
            for i in range(n_r)
        ]
        upper = rng.choice([60, 600, 3600])
        left = spark.createDataFrame(
            lrows, "user_id long, view_id long, sec long"
        ).selectExpr(
            "user_id", "view_id", "timestamp_seconds(sec) AS view_ts"
        )
        right = spark.createDataFrame(
            rrows, "user_id long, click_id long, sec long"
        ).selectExpr(
            "user_id", "click_id", "timestamp_seconds(sec) AS click_ts"
        )
        got = sorted(
            (r["user_id"], r["view_id"], r["click_id"])
            for r in stream_interval_join(
                left,
                right,
                keys=["user_id"],
                left_ts="view_ts",
                right_ts="click_ts",
                upper=f"{upper} seconds",
            ).collect()
        )
        con = duckdb.connect()
        con.register(
            "lraw", pd.DataFrame(lrows, columns=["user_id", "view_id", "sec"])
        )
        con.register(
            "rraw", pd.DataFrame(rrows, columns=["user_id", "click_id", "sec"])
        )
        sql = stream_interval_join_oracle(
            keys=["user_id"],
            left_sql=(
                "SELECT user_id, view_id,"
                " to_timestamp(sec) AS view_ts FROM lraw"
            ),
            right_sql=(
                "SELECT user_id, click_id,"
                " to_timestamp(sec) AS click_ts FROM rraw"
            ),
            left_ts="view_ts",
            right_ts="click_ts",
            upper_s=upper,
        )
        wdf = con.execute(sql).fetchdf()
        want = sorted(
            (int(u), int(v), int(c))
            for u, v, c in zip(
                wdf["user_id"], wdf["view_id"], wdf["click_id"]
            )
        )
        if got != want:
            fails += 1
            print("STREAM_JOIN MISMATCH", upper, len(got), len(want))
    return fails


def fuzz_sq8(spark, rng, trials: int) -> int:
    """operators/quantize.py: random vector tables (incl. constant
    dims and rail values) — Spark SQ8 summary == DuckDB oracle, and
    the integer error bound always holds."""
    from survivor_processing_spark.operators.quantize import (
        sq8_summary,
        sq8_summary_oracle,
    )

    fails = 0
    for _ in range(trials):
        dim = rng.randrange(2, 9)
        n = rng.randrange(3, 60)
        const_dim = rng.randrange(0, dim)
        vecs = []
        for i in range(n):
            v = [rng.uniform(-3, 3) for _ in range(dim)]
            v[const_dim] = 1.25  # a constant dimension every trial
            vecs.append((i, v))
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        got = sorted(
            tuple(r) for r in sq8_summary(df, dim=dim).collect()
        )
        con = duckdb.connect()
        con.register(
            "embeddings",
            pd.DataFrame(
                {"vec_id": [i for i, _ in vecs],
                 "embedding": [v for _, v in vecs]}
            ),
        )
        want = sorted(
            (int(a), int(b), int(c), bool(x))
            for a, b, c, x in con.execute(
                sq8_summary_oracle(dim=dim)
            ).fetchall()
        )
        if got != want or not all(r[3] for r in got):
            fails += 1
            print("SQ8 MISMATCH", dim, n)
    return fails


def fuzz_semantic_decontam(spark, rng, trials: int) -> int:
    """operators/decontam.py semantic_decontaminate: random
    train/bench vector sets with PLANTED copies and scaled copies —
    Spark == DuckDB oracle exactly, and every planted copy is flagged
    against its source."""
    from survivor_processing_spark.operators.decontam import (
        semantic_decontaminate,
        semantic_decontaminate_oracle,
    )

    fails = 0
    for _ in range(trials):
        dim = rng.randrange(3, 9)
        n_train = rng.randrange(5, 40)
        n_bench = rng.randrange(1, 6)
        num, den = rng.choice([(81, 100), (64, 100), (1, 4), (9, 16)])
        bench = [
            (100 + j, [rng.uniform(-2, 2) for _ in range(dim)])
            for j in range(n_bench)
        ]
        train = [
            (i, [rng.uniform(-2, 2) for _ in range(dim)])
            for i in range(n_train)
        ]
        planted = []
        for j, (bid, bv) in enumerate(bench):
            if rng.random() < 0.7:
                scale_f = rng.choice([1.0, 0.5, 2.0])
                planted.append((1000 + bid, [x * scale_f for x in bv]))
        train += planted
        tdf = spark.createDataFrame(
            train, "vec_id long, embedding array<double>"
        )
        bdf = spark.createDataFrame(
            bench, "vec_id long, embedding array<double>"
        )
        got = sorted(
            tuple(int(x) for x in r)
            for r in semantic_decontaminate(
                tdf,
                bdf,
                threshold_num=num,
                threshold_den=den,
                dim=dim,
                # exercise BOTH r14 pairing lanes (the random bench
                # is tiny, so without the 0 the kernel lane would
                # never fuzz)
                kernel_min_bench=rng.choice([0, 48]),
            ).collect()
        )
        con = duckdb.connect()
        con.register(
            "t_tbl",
            pd.DataFrame(
                {"vec_id": [i for i, _ in train],
                 "embedding": [v for _, v in train]}
            ),
        )
        con.register(
            "b_tbl",
            pd.DataFrame(
                {"vec_id": [i for i, _ in bench],
                 "embedding": [v for _, v in bench]}
            ),
        )
        want = sorted(
            tuple(int(x) for x in r)
            for r in con.execute(
                semantic_decontaminate_oracle(
                    "SELECT vec_id, embedding FROM t_tbl",
                    "SELECT vec_id, embedding FROM b_tbl",
                    threshold_num=num, threshold_den=den, dim=dim,
                )
            ).fetchall()
        )
        flagged = {t for t, _, _ in got}
        # a zero planted vector has cos undefined (dot 0) — exclude
        missed = [
            pid for pid, pv in planted
            if any(abs(x) > 1e-6 for x in pv) and pid not in flagged
        ]
        if got != want or missed:
            fails += 1
            print(f"  semantic_decontam mismatch: {got[:3]} vs {want[:3]},"
                  f" missed={missed}")
    return fails


def fuzz_cow_merge(spark, rng, trials: int) -> int:
    """sinks/merge.py merge_into_snapshot (B1 family, r8): random
    seed layouts + random update/insert batches — the post-merge
    snapshot equals a pure-Python upsert of the same batches, every
    pre-merge version stays intact, and copy-on-write minimality
    holds (a file whose key envelope excludes every source key
    survives by NAME)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
        snapshot_files,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    fails = 0
    for _ in range(trials):
        d = _tempfile.mkdtemp()
        try:
            # disjoint key-range files (sorted => tight envelopes)
            n_files = rng.randrange(2, 5)
            bounds = sorted(rng.sample(range(0, 400), n_files * 2))
            names, ref = [], {}
            for i in range(n_files):
                lo, hi = bounds[2 * i], bounds[2 * i + 1] + 1
                ks = list(range(lo, hi))
                for k in ks:
                    ref[k] = float(k)
                nm = f"s{i}.parquet"
                pq.write_table(
                    pa.table(
                        {"k": ks, "amt": [float(k) for k in ks]}
                    ),
                    _os.path.join(d, nm),
                )
                names.append(nm)
            commit_version(d, adds=names)
            pre = dict(ref)
            n_batches = rng.randrange(1, 3)
            for b in range(n_batches):
                batch = {
                    rng.randrange(0, 500): float(rng.randrange(-99, 0))
                    for _ in range(rng.randrange(1, 12))
                }
                src = spark.createDataFrame(
                    sorted(batch.items()), "k long, amt double"
                )
                out = merge_into_snapshot(spark, d, src, "k")
                ref.update(batch)
                # minimality: untouched-by-envelope seeds survive
                still = set(snapshot_files(d))
                for i in range(n_files):
                    lo, hi = bounds[2 * i], bounds[2 * i + 1]
                    if all(not (lo <= k <= hi) for k in batch):
                        if f"s{i}.parquet" in still or out["version"] < 2:
                            continue
                        # the seed may have been rewritten by an
                        # EARLIER batch; only first-batch seeds are
                        # name-stable guarantees
                        if b == 0:
                            fails += 1
                            print("COW-MERGE minimality broke", i)
            got = {
                r["k"]: r["amt"]
                for r in read_snapshot(spark, d).collect()
            }
            v1 = {
                r["k"]: r["amt"]
                for r in read_snapshot(spark, d, 1).collect()
            }
            if got != ref or v1 != pre:
                fails += 1
                print("COW-MERGE MISMATCH", len(got), len(ref))
        finally:
            _shutil.rmtree(d, ignore_errors=True)
    return fails


def fuzz_cow_delete(spark, rng, trials: int) -> int:
    """sinks/merge.py delete_from_snapshot (r10): random seed
    layouts + random delete ranges — the post-delete snapshot equals
    a pure-Python dict filter, NULL keys always survive, every
    pre-delete version stays intact, and copy-on-write minimality
    holds (a file with no matching row survives by NAME even when
    its envelope intersects the range)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
        snapshot_files,
    )
    from survivor_processing_spark.sinks.merge import delete_from_snapshot

    fails = 0
    for _ in range(trials):
        d = _tempfile.mkdtemp()
        try:
            n_files = rng.randrange(2, 5)
            bounds = sorted(rng.sample(range(0, 400), n_files * 2))
            names = []
            rows: list[tuple[int | None, float]] = []
            per_file: dict[str, list[int | None]] = {}
            for i in range(n_files):
                lo, hi = bounds[2 * i], bounds[2 * i + 1] + 1
                ks: list[int | None] = list(range(lo, hi))
                if rng.random() < 0.3:
                    ks.append(None)  # NULL keys must always survive
                nm = f"s{i}.parquet"
                pq.write_table(
                    pa.table(
                        {
                            "k": pa.array(ks, type=pa.int64()),
                            "amt": [
                                float(k) if k is not None else -1.0
                                for k in ks
                            ],
                        }
                    ),
                    _os.path.join(d, nm),
                )
                names.append(nm)
                per_file[nm] = ks
                rows.extend(
                    (k, float(k) if k is not None else -1.0) for k in ks
                )
            commit_version(d, adds=names)
            pre = sorted(rows, key=lambda t: (t[0] is None, t[0]))
            dlo = rng.randrange(0, 400)
            dhi = dlo + rng.randrange(0, 120)
            out = delete_from_snapshot(spark, d, "k", dlo, dhi)
            ref = [
                (k, a)
                for k, a in rows
                if k is None or not (dlo <= k <= dhi)
            ]
            got = sorted(
                ((r["k"], r["amt"]) for r in read_snapshot(spark, d).collect()),
                key=lambda t: (t[0] is None, t[0]),
            )
            if got != sorted(ref, key=lambda t: (t[0] is None, t[0])):
                fails += 1
                print("COW-DELETE MISMATCH", len(got), len(ref))
                continue
            n_del = len(rows) - len(ref)
            if out["n_deleted"] != n_del:
                fails += 1
                print("COW-DELETE count", out["n_deleted"], n_del)
                continue
            # minimality: a seed with no matching row survives by name
            still = set(snapshot_files(d))
            for nm, ks in per_file.items():
                has_match = any(
                    k is not None and dlo <= k <= dhi for k in ks
                )
                if not has_match and nm not in still:
                    fails += 1
                    print("COW-DELETE minimality broke", nm)
            # no-op deletes must not mint a version
            if n_del == 0 and out["version"] is not None:
                fails += 1
                print("COW-DELETE empty commit", out["version"])
            # time travel intact
            v1 = sorted(
                (
                    (r["k"], r["amt"])
                    for r in read_snapshot(spark, d, 1).collect()
                ),
                key=lambda t: (t[0] is None, t[0]),
            )
            if v1 != pre:
                fails += 1
                print("COW-DELETE v1 drift")
        finally:
            _shutil.rmtree(d, ignore_errors=True)
    return fails


def fuzz_mor_dv(spark, rng, trials: int) -> int:
    """operators/mor.py merge-on-read DML (r10; r11 additions): random
    seed layouts + random interleavings of MOR deletes (randomly
    SHARDED sidecar writes — multi-sidecar commits), MOR upserts
    (random dv_shards), purges, z-orders, and randomly-placed LOG
    CHECKPOINTS — EVERY logged version's read equals a pure-Python
    model of the logical table at that version (deletion vectors
    apply from their commit on, never earlier; a checkpoint must be
    INVISIBLE to every read, current or historical), re-deletes count
    only live rows, upserts replace per key exactly like a dict
    update, purge/zorder never change logical content, and live DV
    coverage only ever names active files."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.mor import (
        delete_from_snapshot_mor,
        purge_dvs,
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import (
        checkpoint_snapshot,
        commit_version,
        compact_snapshot,
        expire_snapshots,
        read_snapshot,
        snapshot_dvs,
        snapshot_files,
        zorder_snapshot,
    )

    def _key(t):
        return (t[0] is None, t[0], t[1])

    fails = 0
    for _ in range(trials):
        d = _tempfile.mkdtemp()
        try:
            n_files = rng.randrange(2, 5)
            bounds = sorted(rng.sample(range(0, 400), n_files * 2))
            names = []
            logical: list[tuple[int | None, float]] = []
            for i in range(n_files):
                lo, hi = bounds[2 * i], bounds[2 * i + 1] + 1
                ks: list[int | None] = list(range(lo, hi))
                if rng.random() < 0.3:
                    ks.append(None)  # NULL keys never match a range
                nm = f"s{i}.parquet"
                pq.write_table(
                    pa.table(
                        {
                            "k": pa.array(ks, type=pa.int64()),
                            "amt": [
                                float(k) if k is not None else -1.0
                                for k in ks
                            ],
                        }
                    ),
                    _os.path.join(d, nm),
                )
                names.append(nm)
                logical.extend(
                    (k, float(k) if k is not None else -1.0) for k in ks
                )
            commit_version(d, adds=names)
            history = {1: sorted(logical, key=_key)}
            for _op in range(rng.randrange(2, 5)):
                # r11: random checkpoint placement — must be invisible
                # to every read at every version, and seeds all later
                # replays in this trial
                if rng.random() < 0.35:
                    checkpoint_snapshot(d)
                roll = rng.random()
                if roll < 0.45:
                    dlo = rng.randrange(0, 400)
                    dhi = dlo + rng.randrange(0, 120)
                    out = delete_from_snapshot_mor(
                        spark, d, "k", dlo, dhi,
                        shards=rng.choice([1, 1, 2, 3]),
                    )
                    live_hits = [
                        t
                        for t in logical
                        if t[0] is not None and dlo <= t[0] <= dhi
                    ]
                    if not live_hits:
                        if out["version"] is not None:
                            fails += 1
                            print("MOR-DV empty delete minted", out)
                        continue
                    if out["n_deleted"] != len(live_hits):
                        fails += 1
                        print(
                            "MOR-DV count", out["n_deleted"], len(live_hits)
                        )
                    logical = [
                        t
                        for t in logical
                        if t[0] is None or not (dlo <= t[0] <= dhi)
                    ]
                    history[out["version"]] = sorted(logical, key=_key)
                elif roll < 0.7:
                    batch = {
                        rng.randrange(0, 500): float(rng.randrange(-99, 0))
                        for _ in range(rng.randrange(1, 10))
                    }
                    src = spark.createDataFrame(
                        sorted(batch.items()), "k long, amt double"
                    )
                    out = upsert_into_snapshot_mor(
                        spark, d, src, "k",
                        dv_shards=rng.choice(["auto", 1, 2]),
                    )
                    live_hit = sum(
                        1
                        for t in logical
                        if t[0] is not None and t[0] in batch
                    )
                    if out["n_updated"] != live_hit:
                        fails += 1
                        print(
                            "MOR-UPSERT updated",
                            out["n_updated"],
                            live_hit,
                        )
                    if out["n_inserted"] != len(batch) - live_hit:
                        fails += 1
                        print("MOR-UPSERT inserted", out)
                    logical = [
                        t
                        for t in logical
                        if t[0] is None or t[0] not in batch
                    ] + sorted(batch.items())
                    history[out["version"]] = sorted(logical, key=_key)
                elif roll < 0.8:
                    had = bool(snapshot_dvs(d))
                    out = purge_dvs(spark, d, stats_cols=["k"])
                    if had != (out["version"] is not None):
                        fails += 1
                        print("MOR-DV purge version", had, out)
                    if out["version"] is not None:
                        history[out["version"]] = sorted(logical, key=_key)
                    if snapshot_dvs(d):
                        fails += 1
                        print("MOR-DV purge left coverage")
                elif roll < 0.9:
                    out = zorder_snapshot(spark, d, "k", "amt", n_files=2)
                    history[out["version"]] = sorted(logical, key=_key)
                    if snapshot_dvs(d):
                        fails += 1
                        print("MOR-DV zorder left coverage")
                elif roll < 0.95:
                    # r11: compaction in the mix — layout-only, the
                    # logical table at its version is its parent's
                    out = compact_snapshot(
                        spark, d, target_bytes=1 << 20, stats_cols=["k"]
                    )
                    if out["version"] is not None:
                        history[out["version"]] = sorted(
                            logical, key=_key
                        )
                else:
                    # r11: expiry in the mix — versions below the cut
                    # stop being queryable; the model prunes with it
                    out = expire_snapshots(d, keep_last=2)
                    if out["cut_version"] is not None:
                        history = {
                            v: want
                            for v, want in history.items()
                            if v >= out["cut_version"]
                        }
            active = set(snapshot_files(d))
            for cov in snapshot_dvs(d).values():
                if not set(cov) <= active:
                    fails += 1
                    print("MOR-DV coverage names inactive files")
            for v, want in sorted(history.items()):
                got = sorted(
                    (
                        (r["k"], r["amt"])
                        for r in read_snapshot(spark, d, v).collect()
                    ),
                    key=_key,
                )
                if got != want:
                    fails += 1
                    print("MOR-DV v", v, "MISMATCH", len(got), len(want))
        finally:
            _shutil.rmtree(d, ignore_errors=True)
    return fails


def fuzz_dsir(spark, rng, trials: int) -> int:
    """operators/dsir.py dsir_importance_weights: random raw/target
    corpora with a planted target-heavy doc, random (n, n_buckets,
    scale, ratio_cap) — lanes vs the generated oracle, plus the
    monotone-tilt property (a doc drawn from the target vocabulary
    never scores below a doc drawn from the disjoint noise
    vocabulary)."""
    from survivor_processing_spark.operators.dsir import (
        dsir_importance_oracle,
        dsir_importance_weights,
    )

    fails = 0
    for _ in range(trials):
        tgt_vocab = [f"t{i}" for i in range(rng.randint(4, 12))]
        noise_vocab = [f"n{i}" for i in range(rng.randint(4, 12))]

        def doc(vocab, k):
            return " ".join(rng.choice(vocab) for _ in range(k))

        raw = {
            d: doc(
                tgt_vocab if rng.random() < 0.5 else noise_vocab,
                rng.randint(0, 25),
            )
            for d in range(rng.randint(5, 30))
        }
        raw[900] = doc(tgt_vocab, 20)  # planted target-like
        raw[901] = doc(noise_vocab, 20)  # planted noise
        tgt = {
            d: doc(tgt_vocab, rng.randint(2, 25))
            for d in range(rng.randint(2, 10))
        }
        kw = {
            "n": rng.randint(1, 3),
            "n_buckets": rng.choice([16, 64, 4096]),
            "scale": rng.choice([1000, 1_000_000]),
            "ratio_cap": rng.choice([2, 1000]),
        }
        raw_df = spark.createDataFrame(
            sorted(raw.items()), "doc_id long, text string"
        )
        tgt_df = spark.createDataFrame(
            sorted(tgt.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_grams"], r["weight_lane"], r["score_lane"])
            for r in dsir_importance_weights(raw_df, tgt_df, materialize=False, **kw).collect()
        }
        con = duckdb.connect()
        con.register(
            "raw_t",
            pd.DataFrame({"doc_id": list(raw), "text": list(raw.values())}),
        )
        con.register(
            "tgt_t",
            pd.DataFrame({"doc_id": list(tgt), "text": list(tgt.values())}),
        )
        want = {}
        for i, g, w, s in con.execute(
            dsir_importance_oracle(
                "SELECT doc_id, text FROM raw_t",
                "SELECT doc_id, text FROM tgt_t",
                **kw,
            )
        ).fetchall():
            want[int(i)] = (
                int(g),
                int(w) if w is not None else None,
                int(s) if s is not None else None,
            )
        if got != want:
            fails += 1
            print(f"DSIR MISMATCH kw={kw}")
            continue
        # monotone tilt — asserted only where nothing blurs it:
        # large bucket space (collisions rare), short grams (the
        # target corpus covers them), and the PERMISSIVE cap (a tight
        # ratio_cap compresses the target-lane advantage below the
        # noise lanes' 1/(q+1) floor by design — observed at cap=2)
        if (
            kw["n_buckets"] == 4096
            and kw["n"] <= 2
            and kw["ratio_cap"] == 1000
        ):
            s_t, s_n = got[900][2], got[901][2]
            if s_t is not None and s_n is not None and s_t < s_n:
                fails += 1
                print(f"DSIR TILT INVERTED kw={kw}: {s_t} < {s_n}")
    return fails


def fuzz_boilerplate(spark, rng, trials: int) -> int:
    """operators/dedup.py strip_boilerplate_paragraphs: random corpora
    from a shared paragraph pool with planted banners, random min_docs
    — full output vs the generated oracle, plus the df-contract
    property (a paragraph's survival depends ONLY on its distinct-doc
    count vs the cut, checked against a pure-Python document-frequency
    model)."""
    from survivor_processing_spark.operators.dedup import (
        boilerplate_strip_oracle,
        strip_boilerplate_paragraphs,
    )

    fails = 0
    for _ in range(trials):
        pool = [f"p{i}" for i in range(rng.randint(5, 20))]
        texts = {
            d: "\n".join(
                rng.choice(pool) for _ in range(rng.randint(0, 8))
            )
            if rng.random() > 0.1
            else None  # NULL docs: (0, 0, NULL) on both engines
            for d in range(rng.randint(3, 30))
        }
        min_docs = rng.choice([2, 3, 5])
        df = spark.createDataFrame(
            sorted(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_clean"])
            for r in strip_boilerplate_paragraphs(
                df, "text", "doc_id", min_docs=min_docs, delim="\n"
            ).collect()
        }
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": list(texts), "text": list(texts.values())}
            ),
        )
        want = {
            int(i): (int(p), int(k), t)
            for i, p, k, t in con.execute(
                boilerplate_strip_oracle(min_docs=min_docs)
            ).fetchall()
        }
        if got != want:
            fails += 1
            print(f"BOILERPLATE MISMATCH min_docs={min_docs}")
            continue
        # pure-Python df model: exact survivor set per doc
        dfreq: dict[str, set] = {}
        for d, t in texts.items():
            if t is None:
                continue
            for para in t.split("\n"):
                dfreq.setdefault(para, set()).add(d)
        for d, t in texts.items():
            if t is None:
                if got[d] != (0, 0, None):
                    fails += 1
                    print(f"BOILERPLATE NULL DOC diverged doc={d}")
                    break
                continue
            model = [
                p for p in t.split("\n") if len(dfreq[p]) < min_docs
            ]
            if got[d][2] != "\n".join(model):
                fails += 1
                print(f"BOILERPLATE MODEL DIVERGED doc={d}")
                break
    return fails


def fuzz_time_travel(spark, rng, trials: int) -> int:
    """operators/snapshot.py TIMESTAMP AS OF + checkpoint resolution
    (q:snapshot_time_travel): random commit sequences (adds/removes)
    with randomly-placed checkpoints and a randomly SKEWED writer
    clock (time.time monkey-patched to jitter backwards — the clamp
    must keep entry ts monotone), then for EVERY version: (a)
    ``version_at_timestamp(entry_ts(v))`` resolves to the latest
    version sharing that clamped ts (Delta's rule under ties), and (b)
    the as-of read's ACTIVE SET equals the pure-Python model at the
    resolved version, checkpoint present or not."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        _entry_path,
        checkpoint_snapshot,
        commit_version,
        log_versions,
        snapshot_files,
        version_at_timestamp,
    )

    fails = 0
    real_time = _time.time
    for _ in range(trials):
        d = _tempfile.mkdtemp()
        base = real_time()
        # frozen, randomly NON-monotonic wall clock: the clamp alone
        # must produce a monotone, deterministic log
        offsets = [rng.uniform(-5.0, 5.0) for _ in range(12)]
        step = iter(offsets)

        def fake_time():
            try:
                return base + next(step)
            except StopIteration:
                return base + 10.0

        _time.time = fake_time
        try:
            model: dict[int, set[str]] = {}
            active: set[str] = set()
            n_commits = rng.randrange(4, 9)
            for i in range(n_commits):
                nm = f"f{i}.parquet"
                pq.write_table(
                    pa.table({"k": pa.array([i], type=pa.int64())}),
                    _os.path.join(d, nm),
                )
                removes = (
                    [rng.choice(sorted(active))]
                    if active and rng.random() < 0.4
                    else []
                )
                commit_version(d, adds=[nm], removes=removes)
                active = (active | {nm}) - set(removes)
                model[i + 1] = set(active)
                if rng.random() < 0.3:
                    checkpoint_snapshot(d)
            entry_ts = {}
            for v in log_versions(d):
                with open(_entry_path(d, v)) as f:
                    entry_ts[v] = float(_json.load(f)["ts"])
            tss = list(entry_ts.values())
            if tss != sorted(tss):
                fails += 1
                print("TIME-TRAVEL non-monotone ts", tss)
                continue
            for v, ts in entry_ts.items():
                # Delta's rule under clamp ties: latest version whose
                # ts <= this entry's ts
                want_v = max(
                    u for u, t in entry_ts.items() if t <= ts
                )
                got_v = version_at_timestamp(d, ts)
                if got_v != want_v:
                    fails += 1
                    print("TIME-TRAVEL resolve", v, got_v, want_v)
                    continue
                if set(snapshot_files(d, got_v)) != model[got_v]:
                    fails += 1
                    print("TIME-TRAVEL state", got_v)
        finally:
            _time.time = real_time
            _shutil.rmtree(d, ignore_errors=True)
    return fails


FAMILIES = (
    ("lloyd", fuzz_lloyd),
    ("lsh", fuzz_lsh),
    ("simhash", fuzz_simhash),
    ("paragraph", fuzz_paragraph_dedup),
    ("semantic_dedup", fuzz_semantic_dedup),
    ("bpe", fuzz_bpe),
    ("pagerank", fuzz_pagerank),
    ("substring", fuzz_substring),
    ("bpe_encode", fuzz_bpe_encode),
    ("pq", fuzz_pq),
    ("bfs", fuzz_bfs),
    ("stratified_split", fuzz_stratified_split),
    ("ngram_coverage", fuzz_ngram_coverage),
    ("containment", fuzz_containment),
    ("ols", fuzz_ols),
    ("retrieval", fuzz_retrieval),
    ("interpolate", fuzz_interpolate),
    ("winsorize", fuzz_winsorize),
    ("textnorm", fuzz_textnorm),
    ("collocation", fuzz_collocation),
    ("mad", fuzz_mad),
    ("kanon", fuzz_kanon),
    ("urlnorm", fuzz_urlnorm),
    ("fingerprint", fuzz_fingerprint),
    ("bigram_fluency", fuzz_bigram_fluency),
    ("graphstats", fuzz_graphstats),
    ("zonemap", fuzz_zonemap),
    ("snapshot", fuzz_snapshot),
    ("stream_join", fuzz_stream_join),
    ("sq8", fuzz_sq8),
    ("cow_merge", fuzz_cow_merge),
    ("cow_delete", fuzz_cow_delete),
    ("semantic_decontam", fuzz_semantic_decontam),
    ("mor_dv", fuzz_mor_dv),
    ("time_travel", fuzz_time_travel),
    ("dsir", fuzz_dsir),
    ("boilerplate", fuzz_boilerplate),
)


def run(spark, seed: int, trials: int, only: set[str] | None = None) -> int:
    """Run the families (all, or those named in ``only``) with one
    shared rng seeded ``seed``; returns the total mismatch count."""
    # with ``only``, skipped families advance nothing — the rng is
    # shared, so a filtered run is NOT the same stream as the
    # corresponding slice of a full run; quote the filter used
    rng = random.Random(seed)
    fails = 0
    for name, fn in FAMILIES:
        if only is not None and name not in only:
            continue
        f = fn(spark, rng, trials)
        fails += f
        print(f"{name}: {trials - f}/{trials} clean")
    print(f"total mismatches: {fails}")
    return fails


def main() -> int:
    # usage: fuzz_portables.py [seed] [trials] [--only fam1,fam2]
    args = list(sys.argv[1:])
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    seed = int(args[0]) if len(args) > 0 else 20260814
    trials = int(args[1]) if len(args) > 1 else 10
    spark = get_spark("fuzz-portables")
    spark.sparkContext.setLogLevel("ERROR")
    return 1 if run(spark, seed, trials, only) else 0


if __name__ == "__main__":
    raise SystemExit(main())
