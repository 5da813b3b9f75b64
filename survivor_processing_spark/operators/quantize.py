"""Scalar (int8) embedding quantization — the storage-side
counterpart of the PQ/ADC family (operators/pq.py): per-dimension
affine quantization to 8-bit codes, 4× smaller than float32 and 8×
smaller than float64, the standard first compression step for a
100 TB embedding corpus (FAISS ScalarQuantizer / Milvus SQ8 —
public designs).

ENGINE-PORTABLE by the repo's integer-lane discipline: vectors are
fixed-pointed once (``floor(x*1e6+0.5)`` — exact), per-dimension
[min, max] bounds are exact integer aggregates, and the code is the
round-half-up integer ``q = floor(((xq-mn)*510 + span) / (2*span))``
(= round(255·(xq−mn)/span)) — every step identical in DuckDB, so
codes hash-check cross-engine, unlike float scale factors.

Reconstruction error is adjudicated in EXACT integers, no floats:
``err_num = |255·(xq−mn) − q·span|`` is the reconstruction error
scaled by 255, and round-half-up guarantees ``2·err_num ≤ span + 1``
per lane — an oracle-checkable bound (the SQ analog of the IVF
recall-floor gate).

Scale shape: the bounds pass is ONE posexplode + a 64-group
map-side-combined aggregate; the encode is ONE codegen'd zip_with
over two dim-sized literal arrays shipped as a single parsed SQL
string (the py4j literal lesson — never per-element ``F.lit``);
driver traffic is the 2×dim bounds row, nothing else.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.sql_literals import sql_long_array

_QEXPR = (
    "transform(cast({vec} as array<double>),"
    " x -> cast(floor(x * 1000000.0 + 0.5) as bigint))"
)


def _clean(vec_col: str, dim: int):
    return (
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )


def sq8_bounds(
    df: DataFrame, vec_col: str, dim: int
) -> tuple[list[int], list[int]]:
    """Per-dimension [min, max] of the fixed-point lanes — a
    dim-sized driver result from one map-side-combined aggregate."""
    rows = (
        df.where(_clean(vec_col, dim))
        .select(
            F.posexplode(F.expr(_QEXPR.format(vec=vec_col))).alias(
                "pos", "xq"
            )
        )
        .groupBy("pos")
        .agg(F.min("xq").alias("mn"), F.max("xq").alias("mx"))
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"no clean vectors of dim {dim} (got {len(rows)} lanes)"
        )
    mn = [0] * dim
    mx = [0] * dim
    for r in rows:
        mn[r["pos"]] = int(r["mn"])
        mx[r["pos"]] = int(r["mx"])
    return mn, mx


def sq8_summary(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Oracle-checkable quantization contract, one row per vector:
    ``id_col, code_sum, max_err2, err_within_bound`` where
    ``max_err2 = max_d 2·|255·(xq_d−mn_d) − q_d·span_d|`` (twice the
    255-scaled reconstruction error, exact integer) and the bound is
    ``max_err2 ≤ max_d span_d + 1`` — round-half-up can never miss
    by more than half a quantization step."""
    mn, mx = sq8_bounds(df, vec_col, dim)
    spans = [b - a for a, b in zip(mn, mx)]
    mn_arr = sql_long_array(mn)
    span_arr = sql_long_array(spans)
    # d = xq - mn per lane; q = code; err2 = |2*255*d - 2*q*s|
    lanes = (
        f"zip_with(zip_with({_QEXPR.format(vec=vec_col)}, {mn_arr},"
        " (x, m) -> x - m),"
        f" {span_arr},"
        " (d, s) -> named_struct("
        "   'q', CASE WHEN s = 0 THEN 0L"
        "        ELSE (d * 510 + s) DIV (2 * s) END,"
        "   'd', d, 's', s))"
    )
    staged = df.where(_clean(vec_col, dim)).select(
        F.col(id_col), F.expr(lanes).alias("_l")
    )
    return staged.select(
        id_col,
        F.expr(
            "aggregate(_l, 0L, (acc, e) -> acc + e.q)"
        ).alias("code_sum"),
        F.expr(
            "aggregate(_l, 0L, (acc, e) ->"
            " greatest(acc, abs(510 * e.d - 2 * e.q * e.s)))"
        ).alias("max_err2"),
    ).withColumn(
        "err_within_bound", F.col("max_err2") <= F.lit(max(spans) + 1)
    )


def sq8_summary_oracle(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> str:
    """DuckDB SQL replaying :func:`sq8_summary` — bounds, codes, and
    the error lanes recomputed independently with the same integer
    arithmetic (DuckDB ``//`` floors like Spark's DIV on the
    nonnegative numerators produced here)."""
    return f"""WITH dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
clean AS (
    SELECT {id_col} AS vid, {vec_col} AS v FROM {table}
    WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
      AND len(list_filter({vec_col}, x -> x IS NULL)) = 0
),
lanes AS (
    SELECT c.vid, d.i,
           CAST(floor(CAST(c.v[d.i] AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS xq
    FROM clean c, dims d
),
bounds AS (
    SELECT i, MIN(xq) AS mn, MAX(xq) - MIN(xq) AS s
    FROM lanes GROUP BY i
),
coded AS (
    SELECT l.vid,
           l.xq - b.mn AS d, b.s,
           CASE WHEN b.s = 0 THEN 0
                ELSE ((l.xq - b.mn) * 510 + b.s) // (2 * b.s) END AS q
    FROM lanes l JOIN bounds b USING (i)
)
SELECT vid AS {id_col},
       CAST(SUM(q) AS BIGINT) AS code_sum,
       CAST(MAX(abs(510 * d - 2 * q * s)) AS BIGINT) AS max_err2,
       CAST(MAX(abs(510 * d - 2 * q * s))
            <= (SELECT MAX(s) FROM bounds) + 1 AS BOOLEAN)
           AS err_within_bound
FROM coded GROUP BY vid"""
