"""Corpus-curation composite queries: cluster-level dedup with
canonical-document selection, and per-domain rebalanced sampling.

These compose the dedup/skew operators into the end-to-end shapes a
training-data pipeline actually ships: "drop near-duplicates but
keep the best copy" and "cap every domain's contribution".
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..operators.dedup import connected_components, ngram_jaccard_pairs
from ..operators.skew import top_k_per_group
from ._registry import register


@register(
    "near_dup_keep_best",
    doc="cluster-level dedup keeping the BEST copy: exact n-gram "
    "Jaccard pairs (>=0.5) -> connected components -> per cluster keep "
    "the longest document (n_chars desc, doc_id asc tiebreak).  The "
    "keep-best rule is one window over clusters — cluster sizes are "
    "near-dup-bounded, so the window cannot be hot; at 100 TB swap the "
    "pair source for MinHash-LSH (same downstream plan).  Oracle: "
    "recursive-CTE transitive closure + the same window",
    oracle="""
WITH RECURSIVE w AS (
    SELECT doc_id, n_chars,
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
), pairs AS (
    SELECT id1, id2
    FROM common
    JOIN cnt c1 ON c1.doc_id = id1
    JOIN cnt c2 ON c2.doc_id = id2
    WHERE n_common * 1.0 / (c1.n + c2.n - n_common) >= 0.5
), edges AS (
    SELECT id1 AS a, id2 AS b FROM pairs
    UNION ALL
    SELECT id2, id1 FROM pairs
), walk AS (
    SELECT a AS node, b AS reach FROM edges
    UNION
    SELECT wk.node, e.b FROM walk wk JOIN edges e ON wk.reach = e.a
), comp AS (
    SELECT node, least(node, min(reach)) AS component_id
    FROM walk GROUP BY node
), labeled AS (
    SELECT d.doc_id, d.n_chars,
           COALESCE(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, component_id,
       ROW_NUMBER() OVER (PARTITION BY component_id
                          ORDER BY n_chars DESC, doc_id) = 1 AS kept
FROM labeled
""",
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    comps = connected_components(pairs.select("id1", "id2"))
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comps, F.col("doc_id") == comps.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component_id", "doc_id").alias("component_id"),
        )
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return labeled.select(
        "doc_id",
        "component_id",
        (F.row_number().over(w) == 1).alias("kept"),
    )


@register(
    "domain_rebalance_sample",
    doc="per-domain contribution cap: keep at most 10 documents per "
    "source, chosen by md5(doc_id) order — a deterministic uniform "
    "draw reproducible across engines AND across reruns (no rand()).  "
    "Runs through the skew-proof two-stage salted top-k "
    "(operators/skew.py): a 100x-overrepresented crawl domain sorts in "
    "32 bounded buckets, never one hot task.  md5 (not xxhash64) "
    "because the oracle must compute the identical draw",
    oracle="""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rnk
    FROM documents
)
WHERE rnk <= 10
""",
)
def domain_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    capped = top_k_per_group(
        d,
        keys=["source"],
        order_cols=[F.col("_h"), F.col("doc_id")],
        k=10,
        salt_on=["doc_id"],
    )
    return capped.select("doc_id", "source")


@register(
    "embedding_dim_stats",
    doc="per-(label, dimension) embedding profile: min/max/count of "
    "each of the 64 dims — posexplode keeps everything JVM-side, one "
    "hash-agg shuffle on (label, dim); min/max of floats are exact "
    "(no summation-order hazard, unlike means — which is why the "
    "hash-gated stats are min/max and sketch-style means live in "
    "rows-only queries).  The feature-store 'column profile' shape",
    oracle="""
SELECT label, i AS dim,
       MIN(embedding[i]) AS dim_min,
       MAX(embedding[i]) AS dim_max,
       COUNT(*) AS n_vecs
FROM embeddings, LATERAL (
    SELECT unnest(generate_series(1, len(embedding))) AS i
)
GROUP BY label, i
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.min("v").alias("dim_min"),
            F.max("v").alias("dim_max"),
            F.count("*").alias("n_vecs"),
        )
    )


@register(
    "export_balanced_shards",
    doc="training-data export: hash-sharded, intra-shard-sorted "
    "parquet layout — repartition(shard) + sortWithinPartitions + "
    "partitionBy write gives N balanced reader-friendly shards with "
    "deterministic membership (pmod, not engine-specific hash); the "
    "query proves the landed layout by reading the written dataset "
    "back and aggregating per shard",
    oracle="""
SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
""",
)
def export_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    path = f"{tempfile.gettempdir()}/spark_graft_shards_{uuid.uuid4().hex[:8]}"
    d = load_table(spark, sf_dir, "documents").withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(8)).cast("bigint")
    )
    (
        d.repartition(8, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )
    back = (
        spark.read.parquet(path)
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    res = back.localCheckpoint(eager=True)
    shutil.rmtree(path, ignore_errors=True)
    return res


@register(
    "corpus_curation_pipeline",
    doc="END-TO-END curation: quality gate (C4/Gopher rule chain) -> "
    "exact dedup (keep min doc_id per normalized text) -> near-dup "
    "cluster dedup keeping the longest copy (exact 3-gram Jaccard "
    ">= 0.5 + connected components) -> per-language corpus stats.  "
    "One composed lazy plan: the gates are map-side filters, dedup "
    "is the posting-list pair path, and nothing materializes "
    "between stages (at 100 TB each stage would checkpoint to the "
    "lake; the PLAN per stage is identical).  Oracle replays the "
    "same chain in SQL with a recursive-CTE closure",
    oracle="""
WITH RECURSIVE feats AS (
    SELECT doc_id, lang, n_chars, text,
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
           len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                           'g'), ' ')) AS n_tokens,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_intersect(
               list_distinct(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')),
               ['the','a','of','and','to','in','is','that'])) AS stop_hits
    FROM documents
), s1 AS (
    SELECT * FROM feats
    WHERE n_tokens BETWEEN 10 AND 100000
      AND alpha_chars * 1.0 / n_chars >= 0.6
      AND n_chars * 1.0 / n_tokens BETWEEN 3.0 AND 12.0
      AND stop_hits * 1.0 / n_tokens > 0.0
), s2 AS (
    SELECT * FROM s1
    WHERE doc_id IN (SELECT MIN(doc_id) FROM s1 GROUP BY norm)
), w AS (
    SELECT doc_id, n_chars,
           string_split(norm, ' ') AS words
    FROM s2
), sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
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
), pairs AS (
    SELECT id1, id2 FROM common
    JOIN cnt c1 ON c1.doc_id = id1
    JOIN cnt c2 ON c2.doc_id = id2
    WHERE n_common * 1.0 / (c1.n + c2.n - n_common) >= 0.5
), edges AS (
    SELECT id1 AS a, id2 AS b FROM pairs
    UNION ALL SELECT id2, id1 FROM pairs
), walk AS (
    SELECT a AS node, b AS reach FROM edges
    UNION
    SELECT wk.node, e.b FROM walk wk JOIN edges e ON wk.reach = e.a
), comp AS (
    SELECT node, least(node, min(reach)) AS component_id
    FROM walk GROUP BY node
), labeled AS (
    SELECT s.doc_id, s.lang, s.n_chars, s.n_tokens,
           COALESCE(c.component_id, s.doc_id) AS component_id
    FROM s2 s LEFT JOIN comp c ON c.node = s.doc_id
), s3 AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY component_id
                                     ORDER BY n_chars DESC, doc_id) AS r
        FROM labeled
    ) WHERE r = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s3 GROUP BY lang
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import quality_filter
    from ..operators.dedup import exact_dedup, tokens_expr

    d = load_table(spark, sf_dir, "documents")
    # stage 1: quality gate
    flags = quality_filter(d, "text", "doc_id").filter("keep").select("doc_id")
    s1 = d.join(flags, "doc_id")
    # stage 2: exact dedup (min doc_id per normalized text)
    keep_exact = exact_dedup(s1, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    s2 = s1.join(keep_exact, "doc_id")
    # stage 3: near-dup cluster dedup, keep the longest copy
    prs = ngram_jaccard_pairs(s2, "text", "doc_id", threshold=0.5, shingle_n=3)
    comps = connected_components(prs.select("id1", "id2"))
    labeled = s2.join(comps, s2.doc_id == comps.node, "left").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens_expr("text")).alias("n_tokens"),
        F.coalesce("component_id", "doc_id").alias("component_id"),
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    s3 = labeled.withColumn("r", F.row_number().over(w)).filter(F.col("r") == 1)
    return s3.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "weighted_sample_aes",
    doc="weighted sampling without replacement (Efraimidis–Spirakis "
    "A-ES, operators/curation.py weighted_sample_k): 15 docs per "
    "language drawn with probability proportional to n_chars — rank "
    "by -ln(u)/weight with a portable hash-derived u, keep the k "
    "smallest through the salted two-stage top-k (no hot stratum).  "
    "Deterministic across runs and engines — the key is rounded to "
    "12 decimals and ranked as DECIMAL so a Java-vs-libm ln() ulp "
    "cannot flip the rank-15 boundary; oracle replays the identical "
    "arithmetic and ranking in SQL",
    oracle="""
WITH keyed AS (
    SELECT lang, doc_id,
           CAST(round(-ln(((doc_id * 2654435761) % 1000000 + 0.5)
                          / 1000000.0) / n_chars, 12)
                AS DECIMAL(24,12)) AS aes_key
    FROM documents
)
SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY aes_key, doc_id) AS r
    FROM keyed
) WHERE r <= 15
""",
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import weighted_sample_k

    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    out = weighted_sample_k(
        d, keys=["lang"], id_col="doc_id", weight_col="n_chars", k=15
    )
    return out.select("lang", "doc_id")


# --- fixed-window document chunking -----------------------------------------


def chunk_documents(
    d: DataFrame, chunk: int = 200, stride: int = 150
) -> DataFrame:
    """The production chunking expression over any (doc_id, text)
    DataFrame — shared by the registered query and the unit tests so
    edge cases (empty text) pin THIS expression, not a copy."""
    # NULL text -> '' on BOTH sides: Spark's greatest() skips NULLs
    # (sequence(1,1) -> one empty chunk) but DuckDB's propagates them
    # (generate_series(1, NULL) -> row dropped); pinning '' keeps the
    # engines divergence-free if a fixture ever carries NULL text.
    d = d.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.greatest(F.length("text"), F.lit(1)).cast("long"),
        F.lit(stride).cast("long"),
    )
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("pos", "start"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_id"),
            F.col("text")
            .substr(F.col("start").cast("int"), F.lit(chunk))
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


@register(
    "doc_chunk_overlap",
    doc="split every document into overlapping fixed-width chunks "
    "(200 chars, stride 150 -> 50-char overlap) with stable per-doc "
    "chunk ordinals — the context-window packing front half of an "
    "LLM ingest (RAG indexing, embedding batches).  Map-only plan: "
    "sequence() + posexplode inside the scan stage, zero shuffles, "
    "zero Python; at 100 TB this is pure scan throughput.  Empty "
    "docs yield one empty chunk (explicit, not dropped).  Oracle: "
    "generate_series + substr in DuckDB, char-for-char identical.  "
    "Reference anchor: confessional text blobs (docx paragraphs) are "
    "chunk inputs; the reference never re-windows them — this is the "
    "missing scale half",
    oracle="""
SELECT d.doc_id,
       (i - 1) // 150 AS chunk_id,
       substr(d.text, CAST(i AS INT), 200) AS chunk_text,
       CAST(length(substr(d.text, CAST(i AS INT), 200)) AS BIGINT)
           AS chunk_len
FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) d, LATERAL (
    SELECT unnest(generate_series(1, greatest(length(d.text), 1), 150)) AS i
)
""",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))
