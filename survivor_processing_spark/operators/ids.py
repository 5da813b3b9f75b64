"""Surrogate-id minting.

The reference mints ids with ``SELECT MAX(x_id)+1`` then
``np.arange`` over the null-id rows (reference:
contestant_extract.py:296-317, 350-358; episodes_extract.py:199-226).
``mint_ids_sequential`` keeps the reference semantics exactly: new
ids are ``max_existing + row_number`` in deterministic key order.
Fine for dimension tables (thousands of rows); the single-partition
window is confined to the *null-id subset*, never the full table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def mint_ids_sequential(
    df: DataFrame, id_col: str, order_by: list[str]
) -> DataFrame:
    """Fill NULL ``id_col`` values with max(id)+1, +2, … assigned in
    ``order_by`` order.  One job computes the max (scalar agg, no
    collect of data rows); the row_number window runs only over the
    null-id rows."""
    max_id = F.max(id_col).alias("_max_id")
    with_max = df.crossJoin(F.broadcast(df.agg(max_id)))
    w = Window.orderBy(*order_by)
    nulls = (
        with_max.filter(F.col(id_col).isNull())
        .withColumn(
            id_col,
            (F.coalesce(F.col("_max_id"), F.lit(0)) + F.row_number().over(w)).cast(
                df.schema[id_col].dataType
            ),
        )
    )
    keep = with_max.filter(F.col(id_col).isNotNull())
    return keep.unionByName(nulls).drop("_max_id")
