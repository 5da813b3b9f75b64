"""JDBC adapter contracts: the pure contract (type map, stride math,
predicate completeness, option dict) runs for real; the live JDBC
read is skip-marked behind driver availability so it executes
wherever a warehouse is configured and SKIPS (never silently
diverges) elsewhere."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import DoubleType, LongType, StringType

from survivor_processing_spark.sources.jdbc import (
    jdbc_read_options,
    keyset_predicates,
    partition_bounds,
    pg_type_to_spark,
)


def test_pg_type_map_spark_corrected():
    # the reference coerced bigint -> float for pandas NULL-ability;
    # Spark keeps a nullable LongType (SURVEY §1.3)
    assert pg_type_to_spark("bigint") == LongType()
    assert pg_type_to_spark("double precision") == DoubleType()
    assert pg_type_to_spark("TEXT") == StringType()
    # unknown types fall back to string (leftovers-to-str rule)
    assert pg_type_to_spark("tsvector") == StringType()


def test_partition_bounds_cover_whole_line():
    bounds = partition_bounds(0, 100, 4)
    assert len(bounds) == 4
    # first range open below, last open above: out-of-bounds rows
    # still land somewhere (bounds are parallelism, not a filter)
    assert bounds[0][0] is None and bounds[-1][1] is None
    # interior cuts chain with no gap/overlap
    cuts = [b[1] for b in bounds[:-1]]
    assert cuts == [25, 50, 75]
    assert [b[0] for b in bounds[1:]] == cuts
    assert partition_bounds(0, 100, 1) == [(None, None)]
    # degenerate range still yields n partitions with stride 1
    assert len(partition_bounds(5, 5, 3)) == 3
    with pytest.raises(ValueError):
        partition_bounds(0, 10, 0)


def test_keyset_predicates_partition_the_table():
    preds = keyset_predicates("doc_key", 4)
    assert len(preds) == 4
    assert all("% 4 = " in p and "hashtext" in p for p in preds)
    # buckets are distinct -> union of reads is exactly the table
    assert len(set(preds)) == 4


def test_jdbc_read_options_contract():
    opts = jdbc_read_options(
        "jdbc:postgresql://wh:5432/prod", "public.orders",
        partition_column="o_orderkey", lower=1, upper=6_000_000,
        num_partitions=32,
    )
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["numPartitions"] == "32"
    assert opts["lowerBound"] == "1"
    # fetchsize always set: the pg driver otherwise buffers the whole
    # result set in one cursor
    assert int(opts["fetchsize"]) > 0
    with pytest.raises(ValueError, match="lowerBound"):
        jdbc_read_options("u", "t", partition_column="k")


_HAS_PG_DRIVER = os.environ.get("SPARK_GRAFT_JDBC_URL") is not None


@pytest.mark.skipif(
    not _HAS_PG_DRIVER,
    reason="no JDBC driver jar / warehouse in this container "
    "(set SPARK_GRAFT_JDBC_URL to run the live scan)",
)
def test_jdbc_live_partitioned_scan(spark):
    from survivor_processing_spark.sources.jdbc import read_jdbc_table

    df = read_jdbc_table(
        spark, os.environ["SPARK_GRAFT_JDBC_URL"], "orders",
        partition_column="o_orderkey", lower=1, upper=100_000,
        num_partitions=8,
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() > 0
