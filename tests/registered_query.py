"""Run one registered query and its oracle over a single table."""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pandas as pd

from survivor_processing_spark.queries import REGISTRY


def run_registered(spark, name: str, table: str, pdf: pd.DataFrame):
    """``REGISTRY[name]`` over a throwaway fixture dir holding ``pdf``
    as ``table``, and its oracle over the same frame in DuckDB;
    returns (spark_rows, oracle_rows), each sorted."""
    d = tempfile.mkdtemp()
    try:
        spark.createDataFrame(pdf).write.parquet(
            os.path.join(d, f"{table}.parquet")
        )
        got = sorted(map(tuple, REGISTRY[name].fn(spark, d).collect()))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    con = duckdb.connect()
    con.register(table, pdf)
    want = sorted(map(tuple, con.execute(REGISTRY[name].oracle).fetchall()))
    return got, want
