"""Unicode NFC normalization for multilingual corpora — the
prerequisite every hash-based text operator silently assumes: "café"
composed (U+00E9) and decomposed (e + U+0301) are the SAME document
to a reader and DIFFERENT byte strings to md5/xxhash64, so a corpus
that mixes encoders (web crawls always do) must normalize before
exact dedup, shingling, or fingerprinting sees the text.

The reference pipeline normalizes only whitespace/case per cell (its
scrapes are ASCII-centric); this is part of the beyond-reference
multilingual mandate.

Spark-first shape: Spark SQL has no Unicode-normalization builtin,
so this is the documented legitimate Python case — ONE Arrow-batched
pandas UDF (`pandas.Series.str.normalize`, vectorized per batch;
never row-at-a-time) applied in a single projection.  Everything
around it (change detection, length deltas, downstream hashing)
stays JVM-side.  At 100 TB the UDF is embarrassingly parallel and
pipeline-local: no shuffle, no state, batch-sized memory.

Portability: Python's ``unicodedata``/pandas NFC and DuckDB's
``nfc_normalize`` both implement Unicode's canonical composition, so
the gate can hash-compare full normalized text across engines
(verified on combining marks, Hangul jamo, compatibility-exempt
ligatures, and random mark soups in tests/test_textnorm.py).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf


def _nfc_udf():
    # built lazily: pandas_udf resolves its return type against the
    # active session, so decorating at import time would require one
    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        # str.normalize is vectorized over the Arrow batch; NULLs
        # pass through as NULLs.
        return s.str.normalize("NFC")

    return _nfc


def nfc_normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``id_col, text_nfc, changed, n_chars, n_chars_nfc`` — NFC
    normalization with change accounting (the ``changed`` rate is the
    monitoring signal: a sudden jump means an upstream source
    switched encoders).  NULL text stays NULL (changed = false)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        _nfc_udf()(t).alias("text_nfc"),
        t.alias("_orig"),
    ).select(
        id_col,
        "text_nfc",
        (
            F.coalesce(F.col("text_nfc") != F.col("_orig"), F.lit(False))
        ).alias("changed"),
        F.coalesce(F.length("_orig"), F.lit(0)).cast("int").alias("n_chars"),
        F.coalesce(F.length("text_nfc"), F.lit(0))
        .cast("int")
        .alias("n_chars_nfc"),
    )


def nfc_normalize_oracle(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`nfc_normalize_text`."""
    return f"""
SELECT {id_col},
       nfc_normalize({text_col}) AS text_nfc,
       COALESCE(nfc_normalize({text_col}) != {text_col}, FALSE) AS changed,
       CAST(COALESCE(length({text_col}), 0) AS INTEGER) AS n_chars,
       CAST(COALESCE(length(nfc_normalize({text_col})), 0) AS INTEGER)
           AS n_chars_nfc
FROM {table}"""
