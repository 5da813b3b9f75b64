"""LLM-data-pipeline DEDUP queries: exact / n-gram Jaccard / MinHash-LSH
/ SimHash / embedding near-dup / SemDeDup / incremental LSH /
ExactSubstr spans — over the documents and embeddings tables.

Split from the former queries/llm.py (round 9, VERDICT r08 #6) —
pure file move, no semantic change; every @register block is
byte-identical to its pre-split form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators.dedup import (
    minhash_dedup_pairs,
    ngram_containment_oracle,
    ngram_containment_pairs,
)
from ..operators.substring import substring_dedup_spans as _substr_spans
from ..operators.substring import substring_spans_oracle
from ._registry import register


# --- dedup -------------------------------------------------------------------


@register(
    "minhash_lsh_pairs",
    doc="MinHash(64)+LSH(16x4) near-dup candidates, exact-Jaccard verified "
    "at >=0.5 — the scale path for corpus dedup. Oracle: the LSH candidate "
    "set is probabilistic-by-construction (though deterministic given the "
    "hash family), so the gate is the exact-verified subset vs full exact "
    "Jaccard at the same threshold; at 16 bands x 4 rows, P[miss] at "
    "jaccard 0.5 is (1-0.5^4)^16 ~ 35%, >=0.8 <0.1%% — candidates here are "
    "all >=0.9, where recall is ~1.",
    oracle="""
WITH w AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               array_to_string(words[i:i+2], ' ') AS shingle
        FROM w, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
        )
    )
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2
FROM common
JOIN cnt c1 ON c1.doc_id = id1
JOIN cnt c2 ON c2.doc_id = id2
WHERE n_common * 1.0 / (c1.n + c2.n - n_common) >= 0.5
""",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5).select(
        "id1", "id2"
    )


@register(
    "simhash_portable_pairs",
    doc="SimHash (per-bit token votes, pigeonhole chunk bucketing, "
    "popcount verify) over an ENGINE-PORTABLE token "
    "hash — the first 15 hex chars of md5, a 60-bit value DuckDB "
    "computes identically — with 48 voted bits, 6 chunks, hamming<=5 "
    "and no posting cap, so pigeonhole recall is exact and the "
    "output EQUALS a full O(n^2) hamming scan.  This hash-gates the "
    "simhash family end to end (votes, sign fold, chunking, "
    "popcount)",
    oracle="""
WITH toks AS (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(trim(text)),
                                              '\\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
), hashes AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
    FROM toks
), votes AS (
    SELECT doc_id, b.b AS b,
           COUNT(*) AS n,
           SUM((h >> b.b) & 1) AS v
    FROM hashes
    CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) b
    GROUP BY doc_id, b.b
), sigs AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN v * 2 > n
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS sig
    FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 5
""",
)
def simhash_portable_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_portable_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_portable_pairs(
        d, "text", "doc_id", max_hamming=5, n_bits=48, n_chunks=6
    )


@register(
    "embedding_lsh_portable_pairs",
    doc="the SAME hyperplane-LSH banding (4 planes x 16 tables, "
    "bucket join, exact-cosine verify at 0.5) over ENGINE-PORTABLE "
    "building blocks: md5-parity plane signs and integer-lane "
    "projections (floor(x*1e6+0.5) int64 sums — exact, order-free), "
    "so the DuckDB oracle replays the entire signature pipeline and "
    "the value hash gates LSH end to end.  Posting lists carry the "
    "PORTABLE per-bucket cap (64 md5-smallest ids per table+bucket, "
    "replayed identically by the oracle): candidates are bounded by "
    "tables x buckets x cap^2 instead of the sum-of-m^2 blowup the "
    "uncapped 4-bit config had at sf1 (131 s, VERDICT r05); at gate "
    "scale the cap does not bind, so the output equals the exact "
    "replay",
    oracle="""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
seeds AS (SELECT unnest(generate_series(0, 63)) AS s),
signs AS (
    SELECT i, s,
           CASE WHEN CAST(('0x' || substr(md5(
                         CAST(i - 1 AS VARCHAR) || '_' || CAST(s AS VARCHAR)
                     ), 1, 15)) AS BIGINT) & 1 = 1
                THEN 1 ELSE -1 END AS sgn
    FROM dims, seeds
),
comps AS (
    SELECT e.vec_id, d.i,
           CAST(floor(e.embedding[d.i] * 1e6 + 0.5) AS BIGINT) AS q
    FROM embeddings e, dims d
),
projs AS (
    SELECT c.vec_id, s.s, SUM(c.q * s.sgn) AS proj
    FROM comps c JOIN signs s ON s.i = c.i
    GROUP BY c.vec_id, s.s
),
buckets AS (
    SELECT vec_id, s // 4 AS t,
           SUM(CASE WHEN proj > 0 THEN (1 << (s % 4)) ELSE 0 END) AS bucket
    FROM projs GROUP BY vec_id, s // 4
),
capped AS (
    SELECT vec_id, t, bucket FROM (
        SELECT vec_id, t, bucket,
               ROW_NUMBER() OVER (PARTITION BY t, bucket
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS r
        FROM buckets) WHERE r <= 64
),
cand AS (
    SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
    FROM capped a
    JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
)
SELECT c.id1, c.id2
FROM cand c
JOIN embeddings e1 ON e1.vec_id = c.id1
JOIN embeddings e2 ON e2.vec_id = c.id2
WHERE list_cosine_similarity(e1.embedding, e2.embedding) >= 0.5
""",
)
def embedding_lsh_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_portable_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_portable_pairs(
        e, threshold=0.5, n_planes=4, n_tables=16, max_bucket=64
    )


@register(
    "semantic_dedup_portable",
    doc="ENGINE-PORTABLE SemDeDup (Abbas et al. 2023, public "
    "method): coarse-cluster the embeddings to the 8 md5-smallest "
    "seeds (exact integer squared-L2 argmin, the hash-green Lloyd "
    "assignment rule, in the numpy Arrow kernel _np_assign_udf), "
    "then inside each cluster drop every vector "
    "with a lower-(md5,id)-ranked neighbor at cosine >= 0.9 — the "
    "semantic-redundancy pruning a training pipeline runs where "
    "lexical MinHash/SimHash cannot see the duplication.  The "
    "cosine test is sqrt-free integer arithmetic "
    "(100*dot^2 >= 81*|a|^2*|b|^2 on floor(x*1e3+0.5) int64 lanes "
    "— the 1e3 grid keeps den*dot^2 inside int64; 1e6 would "
    "overflow the squared-squared term) and clusters are capped at "
    "the 128 (md5,id)-smallest members before pairing (the "
    "oracle-replayed truncation of the capped LSH), so candidates "
    "are bounded by k*cap^2, never sum-of-cluster^2; each capped "
    "cluster pairs in one grouped applyInArrow kernel "
    "(_dup_pairs_fn, an int64 numpy matmul).  "
    "The synthetic corpus has no natural cosine>=0.9 structure "
    "(max pairwise 0.51 at sf0.01), so the gate PLANTS semantic "
    "duplicates the way the simhash/LSH recall gates do: every "
    "vec_id%10=3 row gains a copy at id+10000000 scaled by 0.999 "
    "in exact double arithmetic both engines replay bit-for-bit.  "
    "Output = removed rows with their kept twin (ints only)",
    oracle="""
WITH aug AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 10000000,
           list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.999)
    FROM embeddings WHERE vec_id % 10 = 3
),
clean AS (
    SELECT vec_id, embedding FROM aug
    WHERE embedding IS NOT NULL
      AND len(embedding) = 64
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
lanes AS (
    SELECT e.vec_id, d.i,
           CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000.0 + 0.5)
                AS BIGINT) AS q
    FROM clean e, (SELECT unnest(generate_series(1, 64)) AS i) d
),
vecs AS (
    SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS m,
           CAST(SUM(q * q) AS BIGINT) AS n2
    FROM lanes GROUP BY vec_id
),
seed_lanes AS (
    SELECT s.cluster_idx, l.i, l.q
    FROM (SELECT vec_id,
                 ROW_NUMBER() OVER (ORDER BY m, vec_id) - 1 AS cluster_idx
          FROM vecs ORDER BY m, vec_id LIMIT 8) s
    JOIN lanes l ON l.vec_id = s.vec_id
),
d2 AS (
    SELECT l.vec_id, c.cluster_idx,
           SUM((l.q - c.q) * (l.q - c.q)) AS d2
    FROM lanes l JOIN seed_lanes c ON c.i = l.i
    GROUP BY l.vec_id, c.cluster_idx
),
assign AS (
    SELECT vec_id, cluster_idx FROM (
        SELECT vec_id, cluster_idx,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster_idx ASC) AS r
        FROM d2) WHERE r = 1
),
capped AS (
    SELECT vec_id, cluster_idx, m, n2 FROM (
        SELECT a.vec_id, a.cluster_idx, v.m, v.n2,
               ROW_NUMBER() OVER (PARTITION BY a.cluster_idx
                                  ORDER BY v.m, a.vec_id) AS r
        FROM assign a JOIN vecs v ON v.vec_id = a.vec_id)
    WHERE r <= 128
),
dups AS (
    SELECT x.cluster_idx, x.vec_id AS ida, x.m AS ma,
           y.vec_id AS idb, dot
    FROM (
        SELECT x.cluster_idx, x.vec_id, y_id,
               CAST(SUM(la.q * lb.q) AS BIGINT) AS dot
        FROM (SELECT cluster_idx, vec_id FROM capped) x
        JOIN (SELECT cluster_idx, vec_id AS y_id FROM capped) y
          ON y.cluster_idx = x.cluster_idx
        JOIN lanes la ON la.vec_id = x.vec_id
        JOIN lanes lb ON lb.vec_id = y_id AND lb.i = la.i
        GROUP BY x.cluster_idx, x.vec_id, y_id
    ) d(cluster_idx, x_id, y_id, dot)
    JOIN capped x ON x.vec_id = d.x_id AND x.cluster_idx = d.cluster_idx
    JOIN capped y ON y.vec_id = d.y_id AND y.cluster_idx = d.cluster_idx
    WHERE (x.m < y.m OR (x.m = y.m AND x.vec_id < y.vec_id))
      AND dot > 0 AND 100 * dot * dot >= 81 * x.n2 * y.n2
)
SELECT idb AS vec_id, CAST(cluster_idx AS INTEGER) AS cluster_idx,
       ida AS dup_of
FROM (SELECT idb, cluster_idx, ida,
             ROW_NUMBER() OVER (PARTITION BY idb
                                ORDER BY ma, ida) AS r
      FROM dups)
WHERE r = 1
""",
)
def semantic_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup_portable as _semdedup

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = e.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.expr(
            "transform(cast(embedding as array<double>), x -> x * 0.999D)"
        ).alias("embedding"),
    )
    return _semdedup(base.unionByName(planted), k=8, max_cluster=128, dim=64)


@register(
    "incremental_dedup_new_docs",
    doc="rolling-crawl dedup: does a NEW batch (doc_id % 10 = 0) "
    "duplicate anything in the EXISTING corpus (doc_id % 10 != 0)? "
    "MinHash signatures for the batch, one hash join against the "
    "corpus's banded LSH index (the persistable lsh_band_index "
    "table), exact-Jaccard verify — cost scales with the batch, "
    "never the corpus.  Oracle: the full asymmetric exact-Jaccard "
    "join at the same threshold; candidates here are near-identical "
    "planted dups where LSH recall is ~1 (same regime as "
    "q:minhash_lsh_pairs)",
    oracle="""
WITH sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               array_to_string(words[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)),
                                                 '\\s+', ' ', 'g'), ' ')
                         AS words
              FROM documents) w,
             LATERAL (SELECT unnest(generate_series(1,
                          greatest(len(words) - 2, 1))) AS i)
    ) GROUP BY doc_id, shingle
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
    GROUP BY a.doc_id, b.doc_id
)
SELECT new_id, corpus_id,
       round(n_common * 1.0 / (c1.n + c2.n - n_common), 6) AS jaccard
FROM common
JOIN cnt c1 ON c1.doc_id = new_id
JOIN cnt c2 ON c2.doc_id = corpus_id
WHERE n_common * 1.0 / (c1.n + c2.n - n_common) >= 0.5
""",
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_match_against_corpus

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out = minhash_match_against_corpus(
        new, corpus, "text", "doc_id", threshold=0.5
    )
    return out.select(
        "new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "substring_dedup_spans",
    doc="ExactSubstr-style duplicated-substring removal spans "
    "(operators/substring.py, after Lee et al. 2022 'Deduplicating "
    "Training Data Makes Language Models Better'): token 8-gram "
    "hashes counted corpus-wide (map-side combine, min_count=2), "
    "duplicate occurrences merged into maximal per-doc token spans "
    "via one gaps-and-islands window — no cartesian, plan-asserted "
    "in tests/test_plans_queued.py.  Oracle is EMITTED by "
    "substring_spans_oracle from the same parameters (randomized in "
    "tests/test_substring.py::test_cross_engine_random)",
    oracle=substring_spans_oracle(n=8, min_count=2),
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _substr_spans(load_table(spark, sf_dir, "documents"), n=8)
    # token positions are int32 Spark-side; DuckDB generate_series
    # emits BIGINT — align the gate dtypes
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


@register(
    "ngram_containment_pairs",
    doc="exact ASYMMETRIC word-3-gram near-CONTAINMENT pairs at "
    ">=0.5 (operators/dedup.py ngram_containment_pairs; "
    "cost-per-row at the 10x scaled corpus matches sf0.1, i.e. "
    "linear): "
    "C(src→dst) = |S(src) ∩ S(dst)| / |S(src)| flags SUBSET "
    "duplication the symmetric Jaccard structurally misses — a short "
    "doc quoted wholesale inside a long one is a containment-dup at "
    "≈1.0 but a Jaccard-dup at ≈0 (quote pages, boilerplate-wrapped "
    "mirrors, excerpt farms; the ExactSubstr motivation at shingle "
    "granularity — substring dedup removes the SPANS, this flags the "
    "DOCUMENTS).  Candidates ride the SAME single-shuffle inverted-"
    "posting pair emission as q:ngram_jaccard_pairs; both directions "
    "come from one extra projection against each side's own "
    "denominator, no extra shuffle.  At 100 TB the LSH families "
    "remain the candidate source; max_posting bounds boilerplate "
    "postings (never binds at gate scale, keeping the oracle byte-"
    "exact).  (fuzz family `containment` with planted subset-"
    "duplication; containment-dominates-jaccard property tests "
    "tests/test_containment_pairs.py; no-cartesian/map-side plan "
    "audit tests/test_plans_queued.py)",
    oracle=ngram_containment_oracle(0.5),
)
def ngram_containment_pairs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, "text", "doc_id", 0.5)
