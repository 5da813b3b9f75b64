"""Composable DataFrame operators — the engine's custom surface.

Everything Spark lacks natively (as-of join, surrogate-id minting,
entity-resolution cascades, schema sync, dedup/similarity at scale)
lives here as pure functions over DataFrames, so Catalyst sees one
logical plan per pipeline.
"""

from .asof import asof_join, containment_join
from .ids import mint_ids_sequential
from .resolve import resolve_cascade
from .schema_sync import sync_with_target
from .skew import bucketed_join, salted_join, write_bucketed

__all__ = [
    "asof_join",
    "containment_join",
    "mint_ids_sequential",
    "resolve_cascade",
    "sync_with_target",
    "salted_join",
    "write_bucketed",
    "bucketed_join",
]
