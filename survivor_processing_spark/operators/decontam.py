"""Benchmark decontamination: drop/flag training documents that
overlap an evaluation set by at least one word n-gram.

This is the published pretraining-hygiene step (the GPT-3 appendix
describes a 13-gram filter; PaLM/Llama report similar n-gram
overlap filters) — the reference engine has no analog, but any
100 TB training-data pipeline needs it, so it is first-class here.

Spark-first shape, and why it scales:

* The benchmark side is SMALL by nature (eval sets are MBs, not TBs).
  Its distinct n-gram set is built once and **broadcast** — the
  100 TB training side never shuffles to discover hits: the
  explode → broadcast-hash-semi-join runs map-side inside the scan
  stage.
* Only HIT rows (rare by construction — contamination is the
  exception) flow into the per-doc count aggregation, with map-side
  partial aggregation on ``doc_id``.
* The per-doc verdict joins the (tiny) hit table back to the corpus
  with a second broadcast, so the whole operator is one map-side
  pass over the training corpus plus two broadcasts.  If a corpus
  were adversarially contaminated (hit table no longer small), Spark
  falls back to a shuffle join under AQE — correctness unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .dedup import ngrams_from_words, tokens_expr


def _gram_table(
    df: DataFrame, text_col: str, id_col: str | None, n: int
) -> DataFrame:
    """(doc_id?, gram) — distinct word n-grams per document, strict
    semantics: a document with fewer than ``n`` words emits none.

    ``spread`` so the CPU-heavy tokenize+gram projection is not
    pinned to one task by a single-row-group input (the
    shingle_table lesson — a parquet row group is unsplittable, so
    the session's scan floor cannot parallelize it)."""
    from .dedup import spread

    cols = ([F.col(id_col).alias("doc_id")] if id_col else []) + [
        tokens_expr(text_col).alias("_w")
    ]
    out = spread(df).select(*cols).select(
        *(["doc_id"] if id_col else []),
        F.explode(ngrams_from_words("_w", n, distinct=True)).alias("gram"),
    )
    return out


def ngram_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag every training document whose normalized text shares at
    least ``min_hits`` distinct word ``n``-grams with the benchmark
    corpus.

    Returns (id_col, n_hits, contaminated) for EVERY input document —
    callers filter ``~contaminated`` to decontaminate, or keep the
    audit columns for a dataset card.  ``n_hits`` counts distinct
    contaminated n-grams, so it is stable under document length.
    """
    bench_grams = _gram_table(
        bench, bench_text_col or text_col, None, n
    ).distinct()
    doc_grams = _gram_table(docs, text_col, id_col, n)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    # NO broadcast hint on the hits join-back: hits is one row per
    # CONTAMINATED doc — tiny on honest corpora, unbounded on an
    # adversarial one.  An explicit hint is never demoted, so the
    # documented AQE fallback to a shuffle join only exists if the
    # planner keeps the choice (AQE still broadcasts small hit
    # tables at runtime on its own).
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


# --- embedding-space decontamination -----------------------------------------


def _quantized(
    df: DataFrame, id_col: str, vec_col: str, dim: int, scale: int
) -> DataFrame:
    """(id, _q int64 lanes, _n2) for clean fixed-dim vectors — the
    portable fixed-point form every integer-cosine gate in this repo
    shares (floor(x*scale+0.5); scale defaults to 1e3 because the
    contamination test squares a dot product, the same int64-headroom
    arithmetic operators/similarity.py semantic_dedup_portable
    documents)."""
    clean = (
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    q = F.expr(
        f"transform(cast({vec_col} as array<double>),"
        f" x -> cast(floor(x * {float(scale)!r} + 0.5) as bigint))"
    )
    # lane-level headroom guard, BELOW the norm: a lane with
    # |q| > isqrt((2^63-1)/dim) can wrap x*x (or the running sum)
    # inside the _n2 aggregate itself, and a wrapped _n2 may then
    # slip PAST the downstream norm bound — the check must run on
    # values that provably haven't overflowed yet.  Plain range
    # comparisons (x > B OR x < -B) never wrap, unlike abs().
    import math

    lane_bound = math.isqrt((2**63 - 1) // max(int(dim), 1))
    bad_lane = F.expr(
        f"exists(_q, x -> x > {lane_bound}L OR x < -{lane_bound}L)"
    )
    n2 = F.expr("aggregate(transform(_q, x -> x*x), 0L, (a, x) -> a + x)")
    return df.where(clean).select(
        F.col(id_col),
        q.alias("_q"),
    ).withColumn(
        "_n2",
        F.when(
            bad_lane,
            F.raise_error(
                F.lit(
                    "semantic_decontaminate: a quantized lane exceeds "
                    f"the int64 headroom bound {lane_bound} "
                    f"(dim={dim}, scale={scale}); lower scale"
                )
            ).cast("long"),
        ).otherwise(n2),
    )


def _hits_udf(bench_rows: list, eid_type, dim: int, num: int, den: int):
    """Arrow batch kernel over train rows ``(_q lanes, _n2 norm)``:
    the list of ``(eid, dot)`` for every bench row (``_eid, _qb,
    _n2b``) whose cosine clears ``sqrt(num/den)``, in bench order
    (``vecbatch.cosine_hits`` on one int64 matmul per batch).  A row
    with no hit, or one that is NULL, has a NULL lane or is not
    ``dim`` long, yields NULL.

    Marked non-deterministic: otherwise the explode's implicit
    ``size(_h) > 0`` pruning filter pushes below the spread
    repartition and DUPLICATES the kernel (two ArrowEvalPython nodes,
    every row paying the matmul twice; plan-pinned by
    test_semantic_decontam_kernel_train_never_shuffles).  The function
    is pure; the marker only pins its evaluation site."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type

    from .vecbatch import as_matrix, cosine_hits, expand, skip_unchanged_zip_rereads

    eids = pa.array(
        [r["_eid"] for r in bench_rows], type=to_arrow_type(eid_type)
    )
    # shape-pinned so an EMPTY bench still flows through the same
    # plan (the train-side headroom guards keep evaluating)
    bmat = np.asarray(
        [r["_qb"] for r in bench_rows], dtype="int64"
    ).reshape(-1, dim)
    bn2 = np.asarray([r["_n2b"] for r in bench_rows], dtype="int64")

    def fn(q, n2):
        skip_unchanged_zip_rereads()
        ok, Q = as_matrix(q, dim, "int64")
        dots = Q @ bmat.T
        hit = cosine_hits(dots, n2.fill_null(0).to_numpy()[ok], bn2, num, den)
        i, j = np.nonzero(hit)
        counts = hit.sum(axis=1)
        offsets = np.concatenate([[0], np.cumsum(counts)]).astype("int32")
        pairs = pa.StructArray.from_arrays(
            [eids.take(pa.array(j)), pa.array(dots[i, j])],
            names=["eid", "dot"],
        )
        hits = pa.ListArray.from_arrays(
            pa.array(offsets), pairs, mask=pa.array(counts == 0)
        )
        return expand(ok, hits)

    return arrow_udf(
        fn, f"array<struct<eid: {eid_type.simpleString()}, dot: bigint>>"
    ).asNondeterministic()


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    threshold_num: int = 81,
    threshold_den: int = 100,
    scale: int = 1000,
    dim: int = 64,
    kernel_min_bench: int = 48,
) -> DataFrame:
    """EMBEDDING-space benchmark decontamination — the semantic
    sibling of :func:`ngram_decontaminate`: flag every training
    vector whose cosine similarity to ANY benchmark vector clears
    ``sqrt(threshold_num/threshold_den)`` (defaults = cosine 0.9).
    Lexical n-gram filters miss paraphrased or translated benchmark
    leakage; embedding overlap is the published complement
    (paraphrase-aware contamination checks in current LLM eval
    hygiene).  The reference engine has no embedding surface at all
    (beyond-reference mandate).

    ENGINE-PORTABLE like every cosine gate in this repo: lanes
    fixed-pointed at ``scale`` (1e3 — the squared-dot headroom
    bound), the threshold test sqrt-free in exact int64
    ``dot > 0 AND den*dot^2 >= num*|a|^2*|b|^2``, so a DuckDB oracle
    (:func:`semantic_decontaminate_oracle`) replays it bit-for-bit.

    Returns ONLY the contaminated rows: ``(id_col, eval_id, dot)``
    with ``eval_id`` the smallest matching benchmark id (exact-int
    tie-free argmin) and ``dot`` that pair's integer lane dot — all
    integers, hash-friendly.

    Scale shape (100 TB): the benchmark side is SMALL by nature
    (eval sets are MBs) — it is broadcast, or rides the kernel
    closure; the train side NEVER shuffles: at ``kernel_min_bench``
    or more bench rows the pairing is one int64 numpy matmul per
    Arrow batch inside the train scan (O(n*m*dim) multiply-adds, the
    same arithmetic an exact-decontamination pass costs anywhere —
    but vectorized instead of the interpreted per-pair lambda of the
    small-bench BroadcastNestedLoopJoin lane, which stays the cheaper
    shape when m is tiny), and only the rare contaminated hits flow
    into the per-id min aggregate.  For very large eval sets, pre-cluster the
    bench side with IVF (operators/similarity.py) and probe per
    centroid — same plan per probe."""
    bid = bench_id_col or id_col
    bvec = bench_vec_col or vec_col
    # int64-headroom guard (mirrors the oracle's arithmetic): the
    # contamination test computes den*dot^2 and num*n2*n2b, and by
    # Cauchy-Schwarz dot^2 <= n2*n2b, so BOTH products fit int64 iff
    # max(num, den) * n2 * n2b <= 2^63-1.  Enforce per side with
    # n2 <= floor(sqrt((2^63-1)/max(num,den))) — checked on the
    # ALREADY-COMPUTED norm column (no extra pass, no per-lane HOF):
    # a vector over the bound raises instead of wrapping (legacy
    # mode) or failing mid-job (ANSI).  At the defaults (scale=1e3,
    # dim=64) this admits |x| up to ~2.1 — unit-normalized
    # embeddings sit far inside it.
    m = max(int(threshold_num), int(threshold_den))
    if m < 1:
        raise ValueError(
            f"thresholds must be positive: {threshold_num}/{threshold_den}"
        )
    import math

    n2_bound = math.isqrt((2**63 - 1) // m)

    def guarded(col: str) -> F.Column:
        return F.when(
            F.col(col) > n2_bound,
            F.raise_error(
                F.concat(
                    F.lit(
                        "semantic_decontaminate: quantized |v|^2 = "
                    ),
                    F.col(col).cast("string"),
                    F.lit(
                        f" exceeds the int64 headroom bound {n2_bound}"
                        f" (scale={scale}, dim={dim}); lower scale"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col(col))

    # the pairing below is CPU-bound at n_bench*dim multiply-adds PER
    # TRAIN ROW, so the train side must occupy every core even when
    # its scan is one small file (a single hot task measured 216 s at
    # the 10x fixture vs ~7 s spread) — the multimodal spread lesson
    # applied to a JVM stage; the shuffle moves only quantized lanes
    tq = (
        _quantized(train, id_col, vec_col, dim, scale)
        .withColumn("_n2", guarded("_n2"))
        .repartition(train.sparkSession.sparkContext.defaultParallelism)
    )
    bq = (
        _quantized(bench, bid, bvec, dim, scale)
        .select(
            F.col(bid).alias("_eid"),
            F.col("_q").alias("_qb"),
            guarded("_n2").alias("_n2b"),
        )
    )
    # Two pairing lanes, picked by bench size (A/B-measured
    # crossover; on 4 cores at sf0.01 the join lane took 0.64 s vs
    # 0.78 s for the kernel at 5 bench rows, 0.54 s vs 0.71 s at 20):
    # - SMALL bench (< kernel_min_bench rows): a BroadcastNestedLoopJoin
    #   with the dot as one materialized interpreted expression — at
    #   tiny m the per-task Python worker/Arrow fixed costs of the
    #   kernel exceed the lambda work it saves.
    # - LARGE bench: the numpy batch kernel (_hits_udf): one int64
    #   matmul per Arrow batch computes the identical exact dots
    #   (Cauchy-Schwarz keeps every product inside the guarded
    #   headroom, so numpy int64 and JVM long agree bit-for-bit),
    #   O(m·dim) vectorized instead of interpreted per train row (sf1
    #   gate m=200: 1.82 → 1.05 s; the gap grows with m).  The kernel
    #   emits the per-row HIT LIST in bench order; the explode +
    #   per-id aggregate are the join lane's, so min/min_by semantics
    #   (NULL ids included) are exactly the same.  The bench side
    #   collects driver-side — the same rows the broadcast relation
    #   materializes — and rides the UDF closure.
    bench_rows = bq.collect()
    if len(bench_rows) < int(kernel_min_bench):
        dot = F.expr(
            "aggregate(zip_with(_q, _qb, (x, y) -> x*y),"
            " 0L, (acc, x) -> acc + x)"
        )
        joined = (
            tq.join(F.broadcast(bq))
            .withColumn("_dot", dot)
            .filter(
                (F.col("_dot") > 0)
                & (
                    F.lit(threshold_den) * F.col("_dot") * F.col("_dot")
                    >= F.lit(threshold_num)
                    * F.col("_n2")
                    * F.col("_n2b")
                )
            )
        )
        return joined.groupBy(F.col(id_col)).agg(
            F.min("_eid").alias("eval_id"),
            F.min_by(F.col("_dot"), F.col("_eid")).alias("dot"),
        )
    u = _hits_udf(
        bench_rows,
        bq.schema["_eid"].dataType,
        int(dim),
        int(threshold_num),
        int(threshold_den),
    )
    hits = (
        tq.select(F.col(id_col), u(F.col("_q"), F.col("_n2")).alias("_h"))
        .select(F.col(id_col), F.explode("_h").alias("_hit"))
        .select(
            F.col(id_col),
            F.col("_hit.eid").alias("_eid"),
            F.col("_hit.dot").alias("_dot"),
        )
    )
    return hits.groupBy(F.col(id_col)).agg(
        F.min("_eid").alias("eval_id"),
        F.min_by(F.col("_dot"), F.col("_eid")).alias("dot"),
    )


def semantic_decontaminate_oracle(
    train_sql: str,
    bench_sql: str,
    threshold_num: int = 81,
    threshold_den: int = 100,
    scale: int = 1000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`semantic_decontaminate` from the same parameters —
    identical quantization, identical sqrt-free integer test, same
    (min eval id, its dot) outputs.  ``train_sql``/``bench_sql`` are
    full SELECTs producing (id_col, vec_col)."""

    def lanes(src_sql: str, name: str) -> str:
        return f"""{name}_q AS (
    SELECT {id_col} AS id,
           list_transform({vec_col},
               x -> CAST(floor(CAST(x AS DOUBLE) * {float(scale)!r} + 0.5)
                         AS BIGINT)) AS q
    FROM ({src_sql})
    WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
      AND len(list_filter({vec_col}, x -> x IS NULL)) = 0
), {name}_l AS (
    SELECT s.id, d.i, s.q[d.i] AS xq
    FROM {name}_q s, dims d
), {name}_n AS (
    SELECT id, CAST(SUM(xq * xq) AS BIGINT) AS n2
    FROM {name}_l GROUP BY id
)"""

    return f"""WITH dims AS (
    SELECT unnest(generate_series(1, {dim})) AS i
), {lanes(train_sql, "t")}, {lanes(bench_sql, "b")},
dots AS (
    SELECT tl.id AS tid, bl.id AS bid,
           CAST(SUM(tl.xq * bl.xq) AS BIGINT) AS dot
    FROM t_l tl JOIN b_l bl USING (i)
    GROUP BY tl.id, bl.id
), hits AS (
    SELECT d.tid, d.bid, d.dot
    FROM dots d
    JOIN t_n ON t_n.id = d.tid
    JOIN b_n ON b_n.id = d.bid
    WHERE d.dot > 0
      AND {threshold_den} * d.dot * d.dot
          >= {threshold_num} * t_n.n2 * b_n.n2
)
SELECT tid AS {id_col},
       CAST(MIN(bid) AS BIGINT) AS eval_id,
       CAST(ARG_MIN(dot, bid) AS BIGINT) AS dot
FROM hits GROUP BY tid"""
