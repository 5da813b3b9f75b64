"""LLM-data-pipeline ANN / clustering queries: brute-force cosine
top-k, IVF-Flat coarse-quantized search, portable Lloyd k-means.

Split from the former queries/llm.py (round 9, VERDICT r08 #6) —
pure file move, no semantic change; every @register block is
byte-identical to its pre-split form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators.decontam import (
    semantic_decontaminate as _semantic_decontaminate,
)
from ..operators.decontam import (
    semantic_decontaminate_oracle as _decon_oracle,
)
from ..operators.pq import pq_adc_topk as _pq_adc_topk
from ..operators.pq import pq_adc_topk_oracle as _pq_adc_oracle
from ..operators.quantize import sq8_summary as _sq8_summary
from ..operators.quantize import sq8_summary_oracle as _sq8_oracle
from ..operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from ._registry import register


def _lloyd_portable_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """DuckDB replay of the integer-lane Lloyd loop: one
    (dist, assign, cent) CTE block per iteration, mechanically
    generated so the SQL cannot drift from the loop structure.
    Centroid update = exact integer floor division via the
    nonneg-mod identity (DuckDB ``%`` truncates like Spark's; the
    numerator is made exactly divisible before the ``/``)."""
    blocks = [
        f"""
WITH clean AS (
    -- vector hygiene, mirrored from the Spark side: non-NULL,
    -- no NULL lane, exactly dim lanes
    SELECT vec_id, embedding FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(embedding) = {dim}
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
vec_lanes AS (
    SELECT e.vec_id, d.i,
           CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS q
    FROM clean e, (SELECT unnest(generate_series(1, {dim})) AS i) d
),
cent_0 AS (
    SELECT s.cluster_idx, v.i, v.q AS c
    FROM (SELECT vec_id,
                 ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                     AS cluster_idx
          FROM clean
          ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}) s
    JOIN vec_lanes v ON v.vec_id = s.vec_id
)"""
    ]
    for t in range(iters):
        blocks.append(
            f""",
dist_{t} AS (
    SELECT v.vec_id, c.cluster_idx, SUM((v.q - c.c) * (v.q - c.c)) AS d2
    FROM vec_lanes v JOIN cent_{t} c ON c.i = v.i
    GROUP BY v.vec_id, c.cluster_idx
),
assign_{t} AS (
    SELECT vec_id, cluster_idx FROM (
        SELECT vec_id, cluster_idx,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster_idx ASC) AS r
        FROM dist_{t}) WHERE r = 1
),
cent_{t + 1} AS (
    SELECT a.cluster_idx, v.i,
           CAST((SUM(v.q) - ((SUM(v.q) % COUNT(*)) + COUNT(*)) % COUNT(*))
                / COUNT(*) AS BIGINT) AS c
    FROM assign_{t} a JOIN vec_lanes v ON v.vec_id = a.vec_id
    GROUP BY a.cluster_idx, v.i
)"""
        )
    blocks.append(
        f""",
dist_{iters} AS (
    SELECT v.vec_id, c.cluster_idx, SUM((v.q - c.c) * (v.q - c.c)) AS d2
    FROM vec_lanes v JOIN cent_{iters} c ON c.i = v.i
    GROUP BY v.vec_id, c.cluster_idx
)
SELECT vec_id, CAST(cluster_idx AS INTEGER) AS cluster_idx
FROM (SELECT vec_id, cluster_idx,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cluster_idx ASC) AS r
      FROM dist_{iters})
WHERE r = 1
"""
    )
    return "".join(blocks)


@register(
    "kmeans_lloyd_portable",
    doc="ENGINE-PORTABLE full Lloyd's k-means (3 complete "
    "assignment/update iterations, k=8): extends the r5 argmax-replay "
    "technique from one assignment step to the whole loop — vectors "
    "quantized floor(x*1e6+0.5) to int64 lanes, md5(id) seed order, "
    "exact integer squared-L2 argmin (ties to lowest idx), and the "
    "centroid update as the exact integer FLOOR-DIVISION mean, which "
    "both engines compute identically (float means are not portable; "
    "the 1e-6 fixed-point grid is the documented rounding).  "
    "Hash-gates the iterative clustering path that kmeans_clusters "
    "(float Lloyd, rows-only) exercises approximately",
    oracle=_lloyd_portable_oracle(k=8, iters=3, dim=64),
)
def kmeans_lloyd_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import kmeans_lloyd_portable as _lloyd

    e = load_table(spark, sf_dir, "embeddings")
    return _lloyd(e, "embedding", "vec_id", k=8, iters=3, dim=64)


@register(
    "cosine_topk",
    doc="brute-force cosine top-10 against a fixed query vector "
    "(vec_id=0's embedding, one parsed literal in the plan): a JVM "
    "cosine projection, then a TakeOrdered top-k, no Python worker; "
    "ranks are ints so the hash is fp-safe",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id
       ) AS INTEGER) AS sim_rank,
       e.vec_id
FROM embeddings e, q
QUALIFY sim_rank <= 10
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = (
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    return brute_force_topk(e, [float(x) for x in qvec], k=10)


@register(
    "ivf_topk_exact",
    doc="the SAME IVF-Flat code path (coarse quantizer trained with "
    "driver-launched jobs, cluster assignment by the numpy Arrow "
    "kernel _ivf_assign_udf, isin-pushdown probe filter, per-list "
    "brute force) in its degraded-to-exact configuration n_probe = "
    "n_centroids: every inverted list is probed, so the result is "
    "bit-identical to exact brute-force top-10 and the full "
    "value-hash oracle applies.  This hash-gates the IVF machinery "
    "itself; the approximate n_probe=4 configuration is adjudicated "
    "by the IVF recall-floor unit test (tests/test_round7_ops.py).  "
    "The degrades-to-exact property is also pinned in "
    "tests/test_operators.py",
    oracle="""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id
       ) AS INTEGER) AS sim_rank,
       e.vec_id
FROM embeddings e, q
QUALIFY sim_rank <= 10
""",
)
def ivf_topk_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = (
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    )
    return ivf_topk(
        e, [float(x) for x in qvec], k=10, n_centroids=16, n_probe=16
    )


@register(
    "sq8_summary",
    doc="SQ8 scalar int8 embedding quantization under driver gating "
    "(operators/quantize.py, paired with the q:embedding_quantize_int8 "
    "retirement — this is the strictly stronger contract): vectors "
    "fixed-pointed to exact integer lanes, per-DIMENSION affine "
    "[min,max] bounds from ONE posexplode + 64-group map-side-combined "
    "aggregate, codes q = round-half-up 255*(x-mn)/span as exact "
    "integer arithmetic in a single codegen'd zip_with over two "
    "dim-sized literal arrays (one parsed SQL string — the py4j "
    "literal lesson), and the reconstruction error adjudicated in "
    "EXACT integers: max_err2 = max_d 2*|255*(x_d-mn_d) - q_d*span_d| "
    "with the oracle-checkable bound max_err2 <= max_d span_d + 1.  "
    "Driver traffic is the 2 x dim bounds row, nothing else.  Oracle "
    "EMITTED by sq8_summary_oracle from the same parameters (randomized "
    "in tests/test_quantize.py::test_error_bound_holds_exactly)",
    oracle=_sq8_oracle(dim=64),
)
def sq8_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sq8_summary(
        load_table(spark, sf_dir, "embeddings"), dim=64
    )


_PQ_QUERY = [0.1] * 64  # fixed ADC query; both engines share its
# exact 1e-6 fixed-point lanes via operators.pq.quantize_query


def _codes_str(df: DataFrame) -> DataFrame:
    """Render the ``codes array<int>`` column as 'c0|c1|...' — arrays
    hash differently between pandas adapters (list vs ndarray), a
    delimited string is one representation in both engines."""
    return df.withColumn(
        "codes",
        F.expr("array_join(transform(codes, x -> cast(x as string)), '|')"),
    )


def _codes_str_oracle(inner: str) -> str:
    return (
        "SELECT * REPLACE (array_to_string("
        "list_transform(codes, x -> CAST(x AS VARCHAR)), '|') AS codes)"
        f" FROM ({inner})"
    )


@register(
    "pq_adc_topk",
    doc="asymmetric-distance PQ top-10 under driver gating "
    "(operators/pq.py pq_adc_topk — the query-time half of IVF-PQ, "
    "completing the ANN-compression family's search side beside the "
    "q:sq8_summary storage side): the m=4 codebooks train with "
    "driver-launched Lloyd jobs; the fixed query [0.1]*64 stays "
    "unquantized-by-codebook; each subspace contributes the exact "
    "integer distance from the query's sub-lanes to the ASSIGNED "
    "centroid via a k-entry ADC lookup table computed driver-side "
    "and riding the closure of the numpy Arrow kernel _np_pq_udf, "
    "which picks each code and sums its table entry in one pass, "
    "then a TakeOrdered top-k — never a full sort.  At "
    "100 TB this is the RAM-resident re-rank: 4 bytes of codes + a "
    "32-entry table replace re-reading 256-byte vectors.  Oracle "
    "EMITTED by pq_adc_topk_oracle from the same query lanes "
    "(randomized in tests/test_pq.py::test_pq_cross_engine_random)",
    oracle=_codes_str_oracle(
        _pq_adc_oracle(_PQ_QUERY, topk=10, m=4, k=8, iters=2)
    ),
)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _codes_str(
        _pq_adc_topk(
            load_table(spark, sf_dir, "embeddings"),
            _PQ_QUERY, topk=10, m=4, k=8, iters=2,
        )
    )


_DECON_TRAIN_SQL = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0"
    " UNION ALL "
    "SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings"
    " WHERE vec_id % 100 = 0"
)
_DECON_BENCH_SQL = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0"
)


@register(
    "semantic_decontaminate",
    doc="EMBEDDING-space benchmark decontamination under driver "
    "gating (operators/decontam.py — the paraphrase-aware sibling of "
    "q:decontaminate_ngram; the int64 headroom guard rides the "
    "ALREADY-COMPUTED norms).  Eval set = the "
    "1%% of vectors with vec_id%%100=0 (broadcast); train = the rest "
    "PLUS planted exact copies of every eval vector at vec_id+1e6, "
    "so the gate provably recovers each planted leak against ITS "
    "source while every value stays integer-portable (threshold "
    "cosine 0.9 as the sqrt-free exact test den*dot^2 >= "
    "num*|a|^2*|b|^2).  The eval side is collected to the driver; "
    "below 48 eval rows the pairing is a BroadcastNestedLoopJoin with "
    "the dot materialized ONCE as a column, otherwise the numpy "
    "Arrow kernel _hits_udf (one int64 matmul per batch) inside the "
    "train scan; either way only hits reach the per-id aggregation. "
    " Oracle EMITTED by semantic_decontaminate_oracle from the same "
    "SQL sources",
    oracle=_decon_oracle(
        _DECON_TRAIN_SQL, _DECON_BENCH_SQL, dim=64
    ),
)
def semantic_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evalset = e.filter(F.col("vec_id") % 100 == 0)
    train = e.filter(F.col("vec_id") % 100 != 0).unionByName(
        evalset.select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return _semantic_decontaminate(train, evalset, dim=64)
