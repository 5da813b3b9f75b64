"""Deduplication operators for large-scale corpus processing.

Beyond the reference's surface (its dedup is ``drop_duplicates``,
reference contestant_transform.py:183 / confessional_transform.py:26-28),
these are the operators a 100 TB training-data pipeline needs:

* exact dedup — normalized-text hash groupBy;
* MinHash + LSH near-dup — shingle → k minhashes → b bands →
  band-bucket join → exact-Jaccard verification;
* SimHash — md5-token signature, bucketed by equal-width chunks;
* n-gram Jaccard — exact pairwise on a shingle-inverted index.

Everything is built-in SQL expressions (xxhash64, transform,
aggregate, explode): JVM-side, whole-stage-codegen'd, no Python in
the hot path.  Shuffles: one per groupBy/join on the *shingle/bucket*
keys — at 100 TB, bucket keys distribute uniformly by construction
(they are hashes), so no skew; candidate verification touches only
bucket-collision pairs, never the cross product.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IF the input is under-parallel.

    Why the explicit probe survives the session-level
    ``spark.sql.files.minPartitionNum`` floor: that floor splits scans
    by BYTE RANGE, but a parquet ROW GROUP is not splittable — a small
    table written as one row group decodes entirely in whichever split
    holds the group's start, so a CPU-heavy projection (shingling,
    signatures) still runs at 1/Nth of the machine.  Removing this
    probe measured +1.4 s on ngram_jaccard and +0.4 s on minhash at
    sf0.1 (whole-query ~2.3 s → 3.6 s), so the one plan-analysis it
    forces is the cheaper side of the trade.  At 100 TB the scan has
    far more row groups than cores, the guard comparison fails, and
    the big-data path stays shuffle-free."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread_rows(
    df: DataFrame, n_rows: int, rows_per_task: int = 1000
) -> DataFrame:
    """Row-aware :func:`spread` for CPU-bound Python codec stages:
    target ``ceil(n_rows / rows_per_task)`` tasks, clamped to the
    cores.  A fixed-cores spread is right when per-row work dwarfs
    task overhead, but for a small table it schedules 32 near-empty
    Python workers — measured ~2× the whole-query time at sf0.1 on
    the multimodal gates (0.84 s -> 0.33 s for header_parse at 5
    tasks) while sf1 still clamps to every core.  ``n_rows`` comes
    from parquet footer metadata (catalog.table_rows — no scan, no
    job); at cluster scale the clamp keeps this identical to
    ``spread`` because rows/chunk >> cores.

    Below 1M rows the repartition is issued WITHOUT the partition-
    count probe: ``df.rdd.getNumPartitions()`` forces a plan analysis
    (~0.15 s) that costs more than shuffling the ids it would save;
    past 1M rows the probed guard returns so an already-wide scan
    never pays a pointless shuffle."""
    sc = df.sparkSession.sparkContext
    target = max(1, min(sc.defaultParallelism, -(-n_rows // rows_per_task)))
    if target <= 1:
        return df
    if n_rows <= 1_000_000:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_BOUNDED_CACHE: dict[str, tuple[DataFrame, str | None]] = {}
# views evicted from _BOUNDED_CACHE wait here one generation before
# the catalog drop actually happens (see CONTRACT below)
_BOUNDED_DROP_QUEUE: dict[str, tuple[DataFrame, str]] = {}
_BOUNDED_LOCK = __import__("threading").Lock()


def cache_bounded(key: str, df: DataFrame, view: str | None = None) -> DataFrame:
    """``df.cache()`` with a one-entry-per-key lifecycle: caching a
    new DataFrame under ``key`` unpersists the previous one
    immediately (superseded state recomputes lazily — safe, just
    slow) and drops its temp ``view`` ONE GENERATION LATE — uuid-named
    views would otherwise accumulate in the catalog across 50-query
    rounds and pin superseded DataFrames (ADVICE r05), but an EAGER
    drop broke a caller that builds two filtered queries before
    executing either: the first query's scalar subquery resolves its
    view at analysis time, so dropping on the very next build turned
    "slow recompute" into a hard TABLE_OR_VIEW_NOT_FOUND (ADVICE
    r06).  Deferring the drop by one eviction restores the soft
    failure mode: the view of build N survives until build N+2.

    CONTRACT: one live (cached) instance per call-site key, and any
    expression referencing a superseded build's view must be analyzed
    (applied to a DataFrame) before the SECOND subsequent build at
    the same call site.  Query builders here consume their
    intermediate within the same query build, so driver rounds and
    bench reps stay comfortably inside that window.  The registry
    swap is lock-guarded, so concurrent builds at worst evict each
    other, never corrupt the map."""
    df = df.cache()
    with _BOUNDED_LOCK:
        prev = _BOUNDED_CACHE.get(key)
        _BOUNDED_CACHE[key] = (df, view)
        stale = _BOUNDED_DROP_QUEUE.pop(key, None)
        if prev is not None and prev[1] is not None:
            _BOUNDED_DROP_QUEUE[key] = (prev[0], prev[1])
    if prev is not None:
        prev[0].unpersist()
    if stale is not None:
        stale_df, stale_view = stale
        try:
            stale_df.sparkSession.catalog.dropTempView(stale_view)
        except Exception:
            pass  # session gone / view already dropped
    return df


def normalize_text(col):
    """Lowercase, trim, collapse runs of whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens_expr(text_col: str):
    return F.split(normalize_text(F.col(text_col)), " ")


def shingles_from_words(words_col: str, n: int = 3):
    """Distinct word n-gram shingles from a pre-split words array
    (pure SQL: transform over an index sequence + slice).

    Takes a *column name* holding the words array rather than the raw
    text: the split/normalize work must live in a separate upstream
    projection so it is evaluated once per row.  Inlining it here
    would re-evaluate the regexp+split inside the lambda for every
    shingle index — O(words^2) regex work per document (measured ~2x
    end-to-end on the near-dup queries).  Because the words column is
    referenced twice (sequence bound + slice), Catalyst's
    CollapseProject keeps the upstream projection separate instead of
    re-inlining the expensive expression."""
    return F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(size({words_col}) - {n - 1}, 1)),"
        f"  i -> concat_ws(' ', slice({words_col}, i, {n}))"
        f"))"
    )


def ngrams_from_words(words_col: str, n: int, distinct: bool = False):
    """Word n-grams from a pre-split words array with STRICT
    semantics: a document with fewer than ``n`` words emits an empty
    array (unlike ``shingles_from_words``, which degrades short docs
    to one whole-doc shingle — the right call for MinHash recall, the
    wrong one for decontamination/repetition metrics where a 3-word
    "8-gram" would be a lie).  Same column-name-not-expression
    contract as ``shingles_from_words`` (see its docstring for the
    CollapseProject rationale).  The ``size < n`` guard also dodges
    ``sequence(1, 0)`` which Spark evaluates DESCENDING as [1, 0]."""
    body = (
        f"if(size({words_col}) < {n}, array(),"
        f" transform(sequence(1, size({words_col}) - {n - 1}),"
        f"   i -> concat_ws(' ', slice({words_col}, i, {n}))))"
    )
    return F.expr(f"array_distinct({body})" if distinct else body)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per normalized text; adds
    ``n_copies``.  One hash-aggregate shuffle on the text hash."""
    return (
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("_norm")
    )


def dedup_paragraphs(
    df: DataFrame, text_col: str, id_col: str, delim: str = "\n\n"
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup: split each document
    on ``delim``, keep only the globally FIRST occurrence of every
    paragraph (first = min (doc_id, position)), and reassemble each
    document from its surviving paragraphs in original order.

    Returns (id_col, n_paras, n_kept, text_dedup) for every input
    document (``text_dedup`` is '' when every paragraph already
    appeared earlier in the corpus, and a NULL-text document emits
    ``(0, 0, NULL)`` — same NULL contract as
    :func:`strip_boilerplate_paragraphs`: Spark's
    ``posexplode_outer(split(NULL))`` would mint a phantom NULL
    paragraph that DuckDB's ``unnest`` never emits, so NULL rows are
    excluded from the paragraph lattice by an INNER explode and
    re-enter via a left join back on the input ids).  ``delim`` is
    treated as a LITERAL separator (regex-quoted internally).

    Scale shape: the winner per paragraph is a ``min(struct(doc_id,
    pos))`` hash AGGREGATE — map-side combinable, so a boilerplate
    paragraph repeated a billion times costs one partial per task,
    not a single-task window sort (``row_number() over (partition by
    para)`` would put every copy of a hot paragraph in one task).
    The flag-back join is on the same paragraph key (partitioning
    reused; AQE skew-split covers pathological boilerplate), then one
    aggregate on doc_id rebuilds documents.  Paragraph order inside
    a doc rides a ``struct(pos, para)`` sort — no global sort."""
    e = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.col(text_col), f"\\Q{delim}\\E", -1)
        ).alias("_pos", "_para"),
    )
    winners = e.groupBy("_para").agg(
        F.min(F.struct("_id", "_pos")).alias("_w")
    )
    j = e.join(winners, "_para")
    kept = F.struct("_id", "_pos") == F.col("_w")
    per_doc = (
        j.groupBy("_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("_pos", "_para"))
                        )
                    ),
                    lambda x: x["_para"],
                ),
                delim,
            ).alias("text_dedup"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            "text_dedup",
        )
    )


def strip_boilerplate_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 3,
    delim: str = "\n\n",
) -> DataFrame:
    """Remove BOILERPLATE paragraphs: any paragraph appearing in at
    least ``min_docs`` DISTINCT documents is dropped from EVERY
    document (navigation chrome, cookie banners, license headers —
    the CCNet/RefinedWeb curation step).  The complement of
    :func:`dedup_paragraphs`, which keeps the globally FIRST copy:
    keep-first preserves one copy of genuinely duplicated CONTENT,
    while boilerplate is noise in its first document too — a corpus
    needs both passes, in either order (they commute on disjoint
    paragraph sets).

    Returns ``(id_col, n_paras, n_kept, text_clean)`` for every
    input document: ``text_clean`` is '' when every paragraph is
    boilerplate, and a NULL-text document emits ``(0, 0, NULL)`` —
    nothing to strip is not an empty result (the Spark split of NULL
    and the DuckDB unnest of NULL disagree row-wise, so NULL rows
    are handled explicitly on both sides to keep the oracle exact).
    ``delim`` is a LITERAL separator (regex-quoted).

    Scale shape (mirrors dedup_paragraphs): the document-frequency
    count is a map-side-combinable two-phase distinct aggregate on
    the paragraph key — a banner repeated a billion times costs one
    partial per task; the flag-back join reuses the same paragraph
    partitioning (AQE skew-split covers pathological banners) and
    the boilerplate side carries ONLY paragraphs past the cut (a
    tiny fraction of the corpus), so the join's build side is small
    by construction; reassembly is one per-doc aggregate with a
    ``struct(pos, para)`` sort — no global sort, no window, no
    Python."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # inner explode (NULL text contributes no paragraph rows — a
    # posexplode_outer would mint a phantom NULL paragraph that the
    # oracle's unnest never sees); NULL-text docs re-enter via the
    # final left join back on the input ids
    e = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.col(text_col), f"\\Q{delim}\\E", -1)
        ).alias("_pos", "_para"),
    )
    boiler = (
        e.groupBy("_para")
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_para", F.lit(True).alias("_boiler"))
    )
    j = e.join(boiler, "_para", "left")
    kept = F.col("_boiler").isNull()
    per_doc = (
        j.groupBy("_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("_pos", "_para"))
                        )
                    ),
                    lambda x: x["_para"],
                ),
                delim,
            ).alias("text_clean"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            "text_clean",
        )
    )


def boilerplate_strip_oracle(
    min_docs: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    delim_sql: str = "chr(10)",
) -> str:
    """Mechanically generate the DuckDB replay of
    :func:`strip_boilerplate_paragraphs` from the same parameters.
    ``delim_sql`` is a DuckDB expression for the literal delimiter
    (the split AND the reassembly join use it)."""
    split = f"string_split({text_col}, {delim_sql})"
    return f"""WITH p AS (
    SELECT {id_col} AS doc_id,
           unnest({split}) AS para,
           generate_subscripts({split}, 1) AS pos
    FROM {table}
), b AS (
    SELECT para FROM p GROUP BY para
    HAVING COUNT(DISTINCT doc_id) >= {int(min_docs)}
), k AS (
    SELECT p.doc_id, p.para, p.pos, b.para IS NULL AS kept
    FROM p LEFT JOIN b ON b.para = p.para
), per_doc AS (
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           COALESCE(string_agg(para, {delim_sql} ORDER BY pos)
                        FILTER (WHERE kept), '') AS text_clean
    FROM k GROUP BY doc_id
)
SELECT d.{id_col} AS doc_id,
       COALESCE(p.n_paras, 0) AS n_paras,
       COALESCE(p.n_kept, 0) AS n_kept,
       p.text_clean
FROM {table} d LEFT JOIN per_doc p ON p.doc_id = d.{id_col}"""


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word n-grams."""
    return (
        spread(df)
        .select(F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("_words"))
        .select("doc_id", shingles_from_words("_words", shingle_n).alias("shingles"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 64, shingle_n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature per document → (doc_id, sig).

    Shape: explode shingles → hash each shingle string ONCE
    (xxhash64) → groupBy(doc_id) with k codegen'd
    ``min(xxhash64(h, j))`` aggregates → assemble the signature array.
    The k lanes re-hash the fixed-width base value, not the string
    (a seeded-hash family standing in for k permutations).

    Why this shape: flat ``min`` aggregates stay inside whole-stage
    codegen, whereas a higher-order ``transform(..., array_min(...))``
    projection is interpreted per element (~100x slower measured).
    Scale: map-side partial aggregation collapses each partition to
    one k-vector per doc before the exchange, so the shuffle is
    O(#docs x k x 8B) regardless of document length."""
    inv = (
        shingle_table(df, text_col, id_col, shingle_n)
        .select("doc_id", F.explode_outer("shingles").alias("_s"))
        .select("doc_id", F.xxhash64("_s").alias("_h"))
    )
    # ONE parsed expression for all k lanes (the bloom/py4j lesson):
    # the previous per-lane F.min(F.xxhash64(col, F.lit(j))) built
    # k x ~5 py4j round trips (~0.5 s of driver time per query build
    # at k=64, billed to every run).  Integer seed literals parse as
    # IntegerType exactly like F.lit(j), so every lane's hash — and
    # the signature — is bit-identical; the aggregates stay flat
    # codegen'd mins, only now assembled into the array in the same
    # aggregate projection.
    lanes = ",".join(f"min(xxhash64(_h, {j}))" for j in range(k))
    return inv.groupBy("doc_id").agg(
        F.expr(f"array({lanes})").alias("sig")
    )


def explode_posting_pairs(df: DataFrame, ids_col: str = "ids") -> DataFrame:
    """All unordered element pairs from each row's posting-list array
    as two columns ``(x, y)``, ``y`` strictly after ``x`` in posting
    order — callers normalize (``least``/``greatest`` on plain ids,
    field-level ``if()`` on struct elements; a full-struct ``least``
    would be re-evaluated once per extracted field after projection
    collapse, so the normalization stays with the caller who knows
    the element shape).

    Emission shape: TWO codegen'd Generates — ``posexplode`` over the
    posting, then ``explode`` of the slice after each element —
    instead of the previous single interpreted higher-order
    ``flatten(transform(transform(...)))`` expression.  The HOF built
    the ENTIRE m(m-1)/2 pair array per posting eagerly before its
    explode (up to ~500k structs at max_posting=1000, every element
    interpreted); the nested Generate's peak allocation is one O(m)
    slice and both generators stay inside whole-stage codegen.
    Measured on the registered containment gate at the ~sf1 corpus:
    28.0-28.5 s -> 19.6-21.2 s warm (interleaved A/B, bit-identical
    output checksums).  Row stream is IDENTICAL pair-for-pair: the
    same (i, j>i) enumeration, so every downstream groupBy/distinct
    hashes the same."""
    return (
        df.select(F.col(ids_col).alias("_pp_ids"))
        .select("_pp_ids", F.posexplode("_pp_ids").alias("_pp_i", "x"))
        .select(
            "x",
            F.explode(
                F.slice(
                    "_pp_ids", F.col("_pp_i") + F.lit(2), F.size("_pp_ids")
                )
            ).alias("y"),
        )
    )


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows`` hashes, bucket on (band_idx, hash(band slice)), emit
    distinct candidate pairs (id1 < id2) from bucket collisions.

    Bucketing is ONE groupBy on the (band, hash) key into posting
    lists, with pairs emitted per posting — not a self-join: a
    self-join would execute the whole signature pipeline twice (once
    per branch, the build side on the broadcast thread) and shuffle
    both branches.  One shuffle on the bucket hash — uniform by
    construction.  Hot buckets cannot form: two signatures land in
    the same bucket only if a full band agrees, which for non-dup
    text is a 2^-64 event per band; posting lists are dup-cluster
    sized.  Output is candidates only; callers verify."""
    banded = lsh_band_index(sig_df, bands, rows)
    return (
        explode_posting_pairs(
            banded.groupBy("band_idx", "band_hash")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        .select(
            F.least("x", "y").alias("id1"), F.greatest("x", "y").alias("id2")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingle_df: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps
    pairs >= threshold.  Joins only the candidate ids — at scale the
    shingle arrays ride along two broadcast-or-shuffle hash joins on
    doc_id, never a cross product."""
    s1 = shingle_df.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("sh1"))
    s2 = shingle_df.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("sh2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    rows: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs, exact-verified."""
    sigs = minhash_signatures(df, text_col, id_col, k=k, shingle_n=shingle_n)
    cands = lsh_candidate_pairs(sigs, bands=bands, rows=rows)
    shingles = shingle_table(df, text_col, id_col, shingle_n)
    return jaccard_verify(cands, shingles, threshold)


def lsh_band_index(
    sig_df: DataFrame, bands: int = 16, rows: int = 4
) -> DataFrame:
    """Banded posting rows ``(band_idx, band_hash, doc_id)`` for a
    signature table — the MATERIALIZABLE half of incremental dedup.
    At 100 TB this is what you persist (partitioned/bucketed by
    ``band_hash``): the historical corpus is indexed once, and every
    incoming crawl batch joins against it instead of re-signing the
    world."""
    return sig_df.select(
        "doc_id",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(slice(sig, b * {rows} + 1, {rows})))"
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_match_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = 64,
    bands: int = 16,
    rows: int = 4,
    shingle_n: int = 3,
    corpus_index: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental (asymmetric) near-dup detection: which NEW
    documents duplicate something already in the corpus?  The
    batch-vs-history shape every rolling crawl ingest needs — batch
    pairs are NOT emitted, only (new_id, corpus_id, jaccard).

    Plan shape: signatures + band postings for the small new batch;
    one hash equi-join on (band_idx, band_hash) against the corpus
    index (at rest: the persisted :func:`lsh_band_index` table, so
    only matching index partitions are read); distinct candidate
    pairs; exact Jaccard verify via two id joins.  Cost scales with
    the BATCH and its collisions, never with corpus size.  Recall is
    the LSH banding curve, same as :func:`minhash_dedup_pairs`.

    ``corpus_index`` / ``corpus_shingles`` make the index-at-rest
    story literal: pass a previously built (and persisted)
    :func:`lsh_band_index` result with
    ``doc_id`` renamed to ``corpus_id`` — and the matching shingle
    table ``(corpus_id, sh2)`` — and the corpus is neither re-signed
    nor re-shingled per batch; the stretch bench times exactly this
    build-once-probe-often split."""
    new_sigs = minhash_signatures(new_df, text_col, id_col, k, shingle_n)
    corpus_idx = (
        corpus_index
        if corpus_index is not None
        else lsh_band_index(
            minhash_signatures(corpus_df, text_col, id_col, k, shingle_n),
            bands,
            rows,
        ).withColumnRenamed("doc_id", "corpus_id")
    )
    new_idx = lsh_band_index(new_sigs, bands, rows).withColumnRenamed(
        "doc_id", "new_id"
    )
    cands = (
        new_idx.join(corpus_idx, ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sh_new = shingle_table(new_df, text_col, id_col, shingle_n).select(
        F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh1")
    )
    sh_corpus = (
        corpus_shingles
        if corpus_shingles is not None
        else shingle_table(corpus_df, text_col, id_col, shingle_n).select(
            F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh2")
        )
    )
    return (
        cands.join(sh_new, "new_id")
        .join(sh_corpus, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 3,
    max_posting: int | None = 1000,
    strategy: str = "count",
) -> DataFrame:
    """Exact threshold Jaccard join over word n-gram shingle sets —
    two physical strategies, both exact, chosen by corpus shape:

    ``strategy='count'`` (default): full inverted index -> join-free
    posting-list pair emission -> ``groupBy(id1,id2).count()`` ->
    jaccard from per-doc shingle counts carried THROUGH the posting
    lists (no join-back: the whole plan is two aggregates over one
    execution of the shingle lineage).  The pair counts combine
    MAP-SIDE, so the shuffle carries distinct pairs, not emissions.
    Work is Θ(Σ m(m-1)/2) over posting sizes m — optimal when
    postings are short, and the better constant even on saturated
    vocabularies (see below).

    ``strategy='prefix'``: AllPairs/SSJoin-style prefix filtering
    (Bayardo et al. WWW'07): rank each document's shingles by global
    rarity (document frequency, shingle tiebreak) and index only the
    first ``n - ceil(t*n) + 1`` — if J(d1,d2) >= t the rarest common
    shingle provably sits in BOTH prefixes (else the >= t*|d| common
    shingles would all hide in a < t*|d| suffix), so recall is exact
    (hash-checked vs the full-join oracle + brute-force property
    test).  Candidates then verify against full shingle arrays.
    This wins on NATURAL (Zipfian) corpora where most shingles are
    near-hapax: prefixes are rare-shingle-biased, postings collapse,
    and candidate volume tracks the true output size.

    Measured honestly on the *synthetic* test corpus (template text,
    vocabulary saturates at ~27k shingles for 50k docs — no rarity to
    exploit): prefix cut candidates only 3.3x (137M -> 41M) and the
    per-candidate array verify made it 2x slower end-to-end than
    count's map-side-combined emission, so count stays the default
    here.  Both strategies bound hot postings with ``max_posting``
    (same cap SimHash uses): exact up to dropped shingles — a shingle
    shared by >cap docs is boilerplate, not near-dup signal;
    ``max_posting=None`` restores fully exact semantics.  Exact
    all-pairs on a saturated vocabulary is inherently ~quadratic in
    corpus size whatever the strategy — MinHash-LSH (linear signature
    shuffle) remains the 100 TB default."""
    sh = shingle_table(df, text_col, id_col, shingle_n)
    if strategy == "prefix":
        inv = sh.select("doc_id", F.explode_outer("shingles").alias("shingle"))
        w_doc = Window.partitionBy("doc_id")
        indexed = (
            inv.withColumn(
                "_dfreq", F.count("*").over(Window.partitionBy("shingle"))
            )
            .withColumn(
                "_rn", F.row_number().over(w_doc.orderBy("_dfreq", "shingle"))
            )
            .withColumn("_n", F.count("*").over(w_doc))
            .filter(
                F.col("_rn")
                <= F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1
            )
            .select("doc_id", "shingle")
        )
        posting = (
            indexed.groupBy("shingle")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        if max_posting is not None:
            posting = posting.filter(F.size("ids") <= max_posting)
        pairs = explode_posting_pairs(posting).select(
            F.least("x", "y").alias("id1"), F.greatest("x", "y").alias("id2")
        )
        return jaccard_verify(pairs.distinct(), sh, threshold)
    if strategy != "count":
        raise ValueError(f"unknown strategy {strategy!r}")
    # Count strategy: each doc's shingle-set size rides the inverted
    # rows into the posting lists (struct(doc_id, n_sh); doc_ids are
    # unique per posting, so struct least/greatest orders by doc_id),
    # so the jaccard denominator needs NO join-back — the shingle
    # lineage executes ONCE instead of three times (inv + two count
    # branches), which matters when the input is itself a composed
    # pipeline (quality gate + exact dedup in the curation queries).
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    posting = (
        inv.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_posting is not None:
        posting = posting.filter(F.size("ids") <= max_posting)
    pairs = explode_posting_pairs(posting).select(
        F.expr("if(x.doc_id < y.doc_id, x.doc_id, y.doc_id)").alias("id1"),
        F.expr("if(x.doc_id < y.doc_id, y.doc_id, x.doc_id)").alias("id2"),
        F.expr("if(x.doc_id < y.doc_id, x.n_sh, y.n_sh)").alias("n1"),
        F.expr("if(x.doc_id < y.doc_id, y.n_sh, x.n_sh)").alias("n2"),
    )
    common = pairs.groupBy("id1", "id2", "n1", "n2").agg(
        F.count("*").alias("n_common")
    )
    return common.select(
        "id1",
        "id2",
        (
            F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 3,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Exact ASYMMETRIC near-containment pairs over word n-gram
    shingle sets: emit ``(src, dst, containment)`` for every ordered
    pair with ``C(src→dst) = |S(src) ∩ S(dst)| / |S(src)| >=
    threshold`` (``src != dst``).

    Why a separate operator from :func:`ngram_jaccard_pairs`: the
    symmetric Jaccard misses SUBSET duplication — a short document
    quoted wholesale inside a long one scores a tiny Jaccard (the
    union is dominated by the long side) but containment ≈ 1 in the
    short→long direction.  Pretraining curation needs exactly this
    signal: quote-heavy pages, boilerplate-wrapped articles, and
    excerpt mirrors are containment-dups, not Jaccard-dups (the
    ExactSubstr paper's motivation restated at shingle granularity;
    substring dedup removes the SPANS, this flags the DOCUMENTS).

    Candidate generation is the same inverted-posting pair emission
    as the Jaccard count strategy — one shuffle on the shingle, pair
    counts combined MAP-SIDE, ``max_posting`` bounding boilerplate
    postings (a shingle shared by >cap docs carries no containment
    signal; ``None`` restores fully exact semantics).  Each
    unordered candidate then emits BOTH directions against its own
    denominator — one extra projection, no extra shuffle.  The
    division is a single float op per row with identical association
    in the generated oracle (``ngram_containment_oracle``), so the
    gate hashes bit-exact.

    Plan shape (r13 optimization): the per-doc shingle count rides
    ALONG the posting rows instead of joining back — postings
    collect ``struct(doc_id, n_sh)``, pairs carry both denominators,
    and the two directions explode from one array projection.  The
    corpus is scanned and shingled ONCE (previously 6×: the
    fwd/rev ``unionByName`` duplicated a 3-scan lineage of posting +
    two count joins) and the plan has zero joins.

    Scale: identical posting-size cost profile to the Jaccard count
    strategy (Θ(Σ m(m−1)/2)); at 100 TB the LSH families remain the
    candidate source and this operator is the exact verifier over
    their candidates or a partition-bounded corpus slice."""
    sh = shingle_table(df, text_col, id_col, shingle_n)
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    posting = (
        inv.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_posting is not None:
        posting = posting.filter(F.size("ids") <= max_posting)
    # ordered pair emission with the denominators in tow (id1 < id2;
    # a doc appears at most once per posting — shingles are distinct
    # per doc — so the field-level ordering is total)
    pairs = explode_posting_pairs(posting).select(
        F.expr("if(x.doc_id < y.doc_id, x.doc_id, y.doc_id)").alias("id1"),
        F.expr("if(x.doc_id < y.doc_id, x.n_sh, y.n_sh)").alias("n1"),
        F.expr("if(x.doc_id < y.doc_id, y.doc_id, x.doc_id)").alias("id2"),
        F.expr("if(x.doc_id < y.doc_id, y.n_sh, x.n_sh)").alias("n2"),
    )
    common = (
        pairs.groupBy("id1", "n1", "id2", "n2")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id1").alias("src"),
                        F.col("id2").alias("dst"),
                        (F.col("n_common") / F.col("n1")).alias(
                            "containment"
                        ),
                    ),
                    F.struct(
                        F.col("id2").alias("src"),
                        F.col("id1").alias("dst"),
                        (F.col("n_common") / F.col("n2")).alias(
                            "containment"
                        ),
                    ),
                )
            ).alias("d")
        )
        .select("d.src", "d.dst", "d.containment")
        .filter(F.col("containment") >= threshold)
    )


def ngram_containment_oracle(
    threshold: float,
    shingle_n: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`ngram_containment_pairs` from the same parameters (the
    full unfiltered exact join — also proving the posting-emission
    path loses nothing under the test-scale ``max_posting``).  The
    division is written ``n_common * 1.0 / n`` — the identical
    single IEEE division the Spark side runs on the same exact
    integer operands."""
    span = shingle_n - 1
    return f"""WITH w AS (
    SELECT {id_col} AS doc_id,
           string_split(regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'), ' ')
               AS words
    FROM {table}
), sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               array_to_string(words[i:i+{span}], ' ') AS shingle
        FROM w, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(words) - {span}, 1))) AS i
        )
    )
), cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), directed AS (
    SELECT c.id1 AS src, c.id2 AS dst,
           c.n_common * 1.0 / c1.n AS containment
    FROM common c JOIN cnt c1 ON c1.doc_id = c.id1
    UNION ALL
    SELECT c.id2, c.id1, c.n_common * 1.0 / c2.n
    FROM common c JOIN cnt c2 ON c2.doc_id = c.id2
)
SELECT src, dst, containment FROM directed
WHERE containment >= {threshold}"""


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int = 25,
) -> DataFrame:
    """Collapse near-dup *pairs* into duplicate *clusters*:
    (node, component_id) where component_id = min node id reachable.

    Min-label propagation ("hash-to-min" map-reduce CC): every node
    starts labeled with itself; each round takes the min of its own
    and all neighbors' labels; stop when no label changes.  Rounds =
    graph diameter — near-dup clusters are shallow (a dup cluster is
    near-clique), so this converges in 2-4 rounds in practice.  If
    the graph has NOT converged after ``max_iters`` (adversarial
    chain, diameter > max_iters), this RAISES rather than silently
    returning partial labels.

    Scale: each round is one shuffle of E edges on the node key plus
    a label join; ``localCheckpoint`` truncates the lineage per round
    so the plan does not grow (on a real cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
    fault-tolerant truncation)."""
    e = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    # Materialize the edge list ONCE: every round joins against it,
    # and without truncation each round would re-execute the entire
    # upstream pair-generation pipeline (e.g. MinHash-LSH) — measured
    # ~Nx the whole job for N rounds.  Both directions EXPLODE from a
    # single execution of the pair lineage (the triangle_counts corner
    # pattern): the previous self-union re-ran the upstream pair
    # aggregate once per branch — its two final-agg stages were the
    # two biggest jobs of the sf1 near-dup gate (r13 session 4 trace).
    edges = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(
                F.col("node"), F.col("label").alias("component_id")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(graph diameter exceeds max_iters) — partial labels would be "
        "WRONG; raise max_iters to at least the graph's diameter"
    )


def simhash_portable(
    df: DataFrame, text_col: str, id_col: str, n_bits: int = 48
) -> DataFrame:
    """ENGINE-PORTABLE SimHash per document: per-bit ±1 votes over
    token hashes, sign of the vote sum → bit.  The token hash is the
    first 15 hex chars of md5 (a 60-bit value every engine computes
    identically), so the signatures, and therefore the near-pair set,
    are bit-reproducible in DuckDB/Postgres/anything with md5, and
    the q:simhash_portable_pairs oracle can be a full value-hash
    gate rather than rows-only.  ``n_bits`` ≤ 60 lanes of the md5
    value are voted.

    Codegen-friendly shape, as MinHash: explode tokens, hash each
    string once, ``n_bits`` flat aggregates (map-side partial →
    shuffle is O(#docs x n_bits x 8B)), then assemble the word.  The
    ±1 vote sum is folded to ``sum(bit_get)`` + one shared count:
    ``sum(±1) > 0  ⇔  2·Σbit > n`` — branch-free per-row work and a
    ~3x smaller expression tree than per-lane ±1 sums."""
    if not 1 <= n_bits <= 60:
        raise ValueError("n_bits must be in [1, 60]")
    # NULL text -> '' on BOTH sides (same pin as chunk_documents):
    # Spark's explode_outer keeps a NULL-token row (doc lands in the
    # output with signature 0) while the oracle's unnest drops the
    # doc entirely — pinning '' keeps the engines divergence-free.
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    votes = (
        spread(df)
        .select(F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("_t"))
        .select("doc_id", F.explode_outer("_t").alias("_tok"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10)
            .cast("long")
            .alias("_h"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_n"),
            # lanes as ONE parsed expression (64 per-lane
            # F.sum(F.expr()).alias() py4j calls cost ~0.18 s of
            # driver time per build); values are bit-identical
            F.expr(
                "array("
                + ",".join(f"sum(bit_get(_h, {b}))" for b in range(n_bits))
                + ")"
            ).alias("_v"),
        )
    )
    bit_terms = " + ".join(
        f"if(_v[{b}] * 2 > _n, shiftleft(cast(1 as bigint), {b}), 0L)"
        for b in range(n_bits)
    )
    return votes.select("doc_id", F.expr(bit_terms).alias("simhash_sig"))


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 5,
    n_bits: int = 48,
    n_chunks: int = 6,
) -> DataFrame:
    """All pairs at hamming ≤ ``max_hamming`` over the PORTABLE
    signature, with exact pigeonhole recall (``n_chunks`` >
    ``max_hamming`` and no posting cap): the output equals a full
    O(n²) hamming scan, which is what the DuckDB oracle computes.

    The signature splits into ``n_chunks`` equal-width chunks, and
    candidates are pairs that agree on some (chunk_idx, chunk_val),
    verified with popcount of XOR.  Pigeonhole: a pair at hamming
    distance d differs in at most d chunks, so with ``n_chunks > d``
    at least one chunk agrees and the pair is generated."""
    if n_bits % n_chunks:
        raise ValueError(f"n_chunks must divide n_bits")
    if max_hamming >= n_chunks:
        raise ValueError("exact recall needs n_chunks > max_hamming")
    width = n_bits // n_chunks
    mask = (1 << width) - 1
    # cache the (tiny: one row per doc) signature table, then expand
    # candidate pairs as a SELF-JOIN on the chunk key rather than a
    # per-bucket pair array.  A posting-array expansion materializes
    # m(m-1)/2 structs in ONE row per bucket — with no posting cap
    # (required for exact recall) a hot bucket OOMs the executor
    # (observed at ~sf1: the clone-10x generator preserves token
    # MULTISETS, SimHash is order-blind, so every clone family shares
    # a signature and buckets run hot).
    # The join streams the same pairs through AQE's skew handling,
    # and caching keeps the signature pipeline from running twice.
    sh = cache_bounded("simhash_portable_sigs",
                       simhash_portable(df, text_col, id_col, n_bits))
    chunks = sh.select(
        "doc_id",
        "simhash_sig",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, {n_chunks - 1}),"
                f" c -> cast(shiftright(simhash_sig, c * {width}) & {mask} as int))"
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(
        "chunk_idx",
        "chunk_val",
        F.col("doc_id").alias("id1"),
        F.col("simhash_sig").alias("_s1"),
    )
    b = chunks.select(
        "chunk_idx",
        "chunk_val",
        F.col("doc_id").alias("id2"),
        F.col("simhash_sig").alias("_s2"),
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.expr("bit_count(_s1 ^ _s2)").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
