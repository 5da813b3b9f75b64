"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf_dir, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet files, and
compares: row count, column names+dtypes, and an order-insensitive
value comparison (rows sorted by all columns).  Exact equality for
non-floats; floats must match to 1e-9 *and* are flagged if not
bit-equal (the real driver hashes values, so bit-equality is the
target — aggregated doubles should be rounded inside the query).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
Tier-1 runs the same comparison over sf0.001
(``tests/test_contract.py::test_query_matches_oracle``).
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from survivor_processing_spark import TABLES, get_spark  # noqa: E402
from survivor_processing_spark.queries import REGISTRY  # noqa: E402


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare_partial(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """For registry entries marked ``partial=True``: row count, column
    names+dtypes, and exact equality of the non-numeric (group-key)
    columns; sketch-valued numeric columns are engine-specific and
    deliberately unchecked."""
    problems: list[str] = []
    if len(sdf) != len(odf):
        return [f"row count: spark={len(sdf)} oracle={len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    for c in sorted(sdf.columns):
        if str(sdf[c].dtype) != str(odf[c].dtype):
            problems.append(
                f"dtype[{c}]: spark={sdf[c].dtype} oracle={odf[c].dtype}"
            )
    keys = [c for c in sorted(sdf.columns) if sdf[c].dtype.kind not in "fiu"]
    if keys:
        s = sdf[keys].sort_values(by=keys, ignore_index=True)
        o = odf[keys].sort_values(by=keys, ignore_index=True)
        if not s.equals(o):
            problems.append(f"group keys differ on {keys}")
    return problems


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(sdf) != len(odf):
        return [f"row count: spark={len(sdf)} oracle={len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype) != str(ov.dtype):
            problems.append(f"dtype[{c}]: spark={sv.dtype} oracle={ov.dtype}")
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            a = sv.astype("float64").to_numpy()
            b = ov.astype("float64").to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            close = np.isclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
            if not close.all():
                i = int(np.argmin(close))
                problems.append(f"float[{c}] mismatch @row{i}: {a[i]} vs {b[i]}")
            elif not ((a == b) | both_nan).all():
                i = int(np.argmin((a == b) | both_nan))
                problems.append(
                    f"float[{c}] NOT bit-equal (hash risk) @row{i}: {a[i]!r} vs {b[i]!r}"
                )
        else:
            eq = (sv.astype(object).where(pd.notna(sv), None)
                  == ov.astype(object).where(pd.notna(ov), None)) | (
                pd.isna(sv) & pd.isna(ov)
            )
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(f"value[{c}] @row{i}: {sv.iloc[i]!r} vs {ov.iloc[i]!r}")
    return problems


def check_query(
    spark, con, sf_dir: str, name: str
) -> tuple[pd.DataFrame | None, list[str]]:
    """Run registered query ``name`` over ``sf_dir`` on Spark and its
    oracle SQL on ``con`` (a ``duckdb_con`` over the same dir), and
    compare them: ``compare_partial`` for ``partial=True`` entries,
    ``compare`` otherwise.  Returns the Spark frame (None if Spark
    raised) and the problems found (empty on a match)."""
    q = REGISTRY[name]
    try:
        sdf = q.fn(spark, sf_dir).toPandas()
    except Exception:
        return None, [f"spark raised\n{traceback.format_exc()}"]
    try:
        odf = con.execute(q.oracle).df()
    except Exception:
        return sdf, [f"oracle raised\n{traceback.format_exc()}"]
    if q.partial:
        return sdf, compare_partial(sdf, odf)
    return sdf, compare(name, sdf, odf)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-correctness")
    con = duckdb_con(sf_dir)
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle")
            continue
        sdf, problems = check_query(spark, con, sf_dir, name)
        if problems:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems[:8]:
                print(f"   - {p}")
        else:
            tag = "PART" if REGISTRY[name].partial else "OK  "
            print(f"{tag} {name} ({len(sdf)} rows, {len(sdf.columns)} cols)")
    print(f"\n{n_fail} failing")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
