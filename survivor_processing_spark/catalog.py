"""Table catalog over the driver-generated parquet star schema.

The reference's canonical store is a PostgreSQL warehouse with 16
keyed tables (reference: helpers/load_helpers.py:28-33, SURVEY.md
§1.2).  Here the catalog is parquet directories per scale factor;
every query takes an ``sf_dir`` and reads through these loaders so
predicate pushdown / column pruning reach the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# TPC-H-ish star schema + events stream + LLM-pipeline tables
# (TESTDATA.md / FIXTURES.md §A).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo of the ANALYZED scan DataFrames, keyed by
# (applicationId, sf_dir, table).  This caches METADATA ONLY — the
# file listing and the footer-inferred schema, exactly what a
# metastore catalog table persists — never data or results: a
# DataFrame is an immutable logical plan, and every action over it
# re-reads the parquet bytes from disk.  Measured: a fresh
# ``spark.read.parquet`` costs ~0.12 s of driver time (listing +
# footer schema inference), and the bench pays it once per table
# reference per rep; the memo hit is ~0 ms.  The catalog's fixture
# tables are immutable per sf_dir (deterministic generator), so the
# captured listing cannot go stale; keying on applicationId drops
# handles from a stopped session.
_SCAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one catalog table. Columnar parquet: Catalyst prunes
    columns and pushes predicates into this scan.

    ``events.ts`` has shipped as BOTH nano-precision parquet (which
    Spark's reader rejects, [PARQUET_TYPE_ILLEGAL]) and plain µs
    timestamps, depending on the fixture generation.  Read with the
    nanos-as-long escape hatch and branch on the landed type: a long
    is nanos-since-epoch → floor-convert to µs (matching DuckDB's
    ``CAST(ts AS TIMESTAMP)``); a timestamp passes through untouched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    # timestamp parsing/formatting is session-timezone-dependent; the
    # oracle (DuckDB) is timezone-naive.  Pin UTC here so every query
    # is deterministic even under a session the engine didn't build.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _SCAN_MEMO.get(key)
    if hit is not None:
        return hit
    if name == "events":
        import pyspark.sql.functions as F

        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # exact long integral division: floor(ts/1000) goes through
            # a double, and ns-since-epoch (~1.7e18) exceeds 2^53, so
            # the floored quotient can drift ±1 µs from DuckDB's exact
            # CAST(ts AS TIMESTAMP)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _SCAN_MEMO[key] = df
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata only — no data
    pages, no Spark job (one footer read per file, same trick as the
    zone-map builder).  Used to size CPU-bound Python codec stages:
    the right parallelism for a tiny table is rows/chunk, not the
    scan's byte-split count."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so queries can also be written in pure SQL
    (`spark.sql`), mirroring the reference's SQL surface
    (helpers/db_funcs.py)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
