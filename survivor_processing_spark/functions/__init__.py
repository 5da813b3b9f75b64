"""Scalar / column-level function library (SURVEY.md §2.I/J + text
analysis extensions)."""

from .derive import add_to_df, iterative_replace_null
from .textstats import (
    token_count_expr,
    quality_score_exprs,
    lang_id_expr,
)

__all__ = [
    "add_to_df",
    "iterative_replace_null",
    "token_count_expr",
    "quality_score_exprs",
    "lang_id_expr",
]
