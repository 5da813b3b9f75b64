"""Run one registered query and its oracle over planted tables."""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pandas as pd

from survivor_processing_spark.queries import REGISTRY


def run_registered(
    spark,
    name: str,
    tables: str | dict[str, pd.DataFrame],
    pdf: pd.DataFrame | None = None,
):
    """``REGISTRY[name]`` over a throwaway fixture dir holding each
    frame of ``tables`` (``{table: frame}``, or one table name with
    its frame as ``pdf``), and its oracle over the same frames in
    DuckDB; returns (spark_rows, oracle_rows), each sorted with NULLs
    first."""
    if isinstance(tables, str):
        tables = {tables: pdf}
    d = tempfile.mkdtemp()
    try:
        for table, frame in tables.items():
            spark.createDataFrame(frame).write.parquet(
                os.path.join(d, f"{table}.parquet")
            )
        got = _sorted(REGISTRY[name].fn(spark, d).collect())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    con = duckdb.connect()
    for table, frame in tables.items():
        con.register(table, frame)
    want = _sorted(con.execute(REGISTRY[name].oracle).fetchall())
    return got, want


def _sorted(rows) -> list[tuple]:
    return sorted(
        map(tuple, rows), key=lambda r: [(v is not None, v) for v in r]
    )
