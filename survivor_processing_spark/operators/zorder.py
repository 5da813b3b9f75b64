"""Z-order (Morton curve) clustering for multi-dimensional data
skipping.

Parquet scans prune ROW GROUPS by column min/max statistics; sorting
by one column gives tight stats on that column only.  Interleaving
the bits of two (or more) columns into one Morton key and sorting by
IT gives every participating column locally-narrow value ranges per
row group — so a scan filtered on EITHER dimension skips most of the
file.  This is the layout trick behind Delta/Iceberg OPTIMIZE
ZORDER, built here from pure Spark expressions.

Scale shape: the z-value is a codegen'd bit expression (no UDF);
the layout pass (operators/snapshot.py ``zorder_snapshot``) is
``repartitionByRange`` on the z-key (range partitioner → balanced
files) + ``sortWithinPartitions`` — one shuffle to rewrite a table
into a form that makes every later 2-d-filtered scan cheaper.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def zvalue(col_a: str, col_b: str, bits: int = 16):
    """Morton-interleave the low ``bits`` of two non-negative
    integral columns: a's bit i lands at 2i, b's at 2i+1.  Built as
    one folded JVM expression (aggregate over a bit-index sequence),
    deterministic and portable (plain shifts and masks)."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" + shiftleft(bigint(shiftright(bigint({col_a}), i) & 1), 2 * i)"
        f" + shiftleft(bigint(shiftright(bigint({col_b}), i) & 1), 2 * i + 1))"
    )
