"""Flagship query: end-to-end plan shape and the entry smoke test.
Its oracle parity at sf0.001 is the oracle gate
(test_contract.py::test_query_matches_oracle)."""

from __future__ import annotations

from survivor_processing_spark.queries import REGISTRY


def test_flagship_plan_broadcasts_dims(spark, sf_dir):
    """nation/region lookups must be broadcast joins, not shuffles
    (replaces the reference's per-row SQL round-trips, db_funcs.py:137-228)."""
    df = REGISTRY["flagship_contestant_stats"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_sql_surface_parity(spark):
    """The reference's declarative surface is SQL strings shipped to
    Postgres (db_funcs.py); the engine exposes the same tables as
    temp views so any of those queries can run verbatim-ish through
    spark.sql."""
    from survivor_processing_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    out = spark.sql(
        """
        WITH ranked AS (
          SELECT o_custkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC) AS rn
          FROM orders
        )
        SELECT c.c_name, r.o_totalprice
        FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
        WHERE r.rn = 1
        ORDER BY r.o_totalprice DESC LIMIT 5
        """
    ).collect()
    assert len(out) == 5
    assert out[0].o_totalprice >= out[4].o_totalprice
