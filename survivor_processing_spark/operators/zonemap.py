"""Manifest-level zone maps + file skipping — the data-skipping
layer a lakehouse table format (Delta/Iceberg file stats, Hive-style
min/max manifests) provides, built directly on parquet footer
statistics since those packages aren't installable here.  Partner of
the compaction planner (operators/compaction.py): compaction decides
the file LAYOUT, the zone map makes the layout PAY — a range
predicate on a range-partitioned or z-ordered table touches the
files whose [min, max] envelope intersects it and skips the rest
WITHOUT opening them.

Why this matters at 100 TB even though Spark already does row-group
skipping: Spark's parquet pushdown prunes INSIDE files it has
already scheduled — the driver still lists, plans, and launches a
task per file.  A manifest prunes the FILE LIST before planning, so
a day's query on a year's table schedules 1/365th of the tasks.
That pre-plan pruning is exactly what table-format manifests exist
for; this operator keeps the manifest as a (tiny, file-count-sized)
DataFrame any query can join or filter.

Mechanics: the builder reads ONLY parquet footers (pyarrow, no data
pages) — cost is one footer per file, manifest size is
files × columns rows.  Row-group min/max are merged IN THE COLUMN'S
PHYSICAL TYPE (pyarrow statistics are typed, so an int column merges
numerically and a string column merges bytewise by construction) and
stringified only at the end; each manifest row records which
ordering (``ord``: numeric / bytewise / temporal / other) built the
envelope, and :func:`prune_files` refuses a ``cast`` whose
comparison semantics disagree with it — so a string column holding
numeric-looking values can never produce an envelope that is
bytewise-narrower than its data (the round-7 ADVICE finding).  The
generated DuckDB oracle rebuilds the same manifest from
``parquet_metadata()`` branching on the SAME physical type — a true
cross-engine check that our footer walk agrees with an independent
reader.

Correctness contract (tested, not asserted): for any range
predicate, scanning the pruned file subset ≡ scanning every file
with the predicate — zone-map pruning may only skip files the
predicate provably cannot match (NULL-stat files are never skipped,
and an ordering-mismatched prune raises instead of guessing).
"""

from __future__ import annotations

import datetime as _dt
import os
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _list_parquet(path: str) -> list[str]:
    """Files that ARE the table at ``path``.  When the directory
    carries a snapshot log (operators/snapshot.py) the listing is
    LOG-DRIVEN — the log's active set, not a glob — so a data file
    orphaned by a failed commit (written, never committed) can never
    leak into a zone map or a pruned scan.  Plain directories glob."""
    if os.path.isfile(path):
        return [path]
    from .snapshot import LOG_DIR, snapshot_files

    if os.path.isdir(os.path.join(path, LOG_DIR)):
        return [os.path.join(path, f) for f in snapshot_files(path)]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _ord_of(v) -> str:
    """Which total order the typed stat value lives in.  bool checked
    before int (bool is an int subclass but prints True/False)."""
    if isinstance(v, bool):
        return "other"
    if isinstance(v, (int, float)):
        return "numeric"
    if isinstance(v, str):
        return "bytewise"
    if isinstance(v, (_dt.date, _dt.datetime)):
        return "temporal"
    return "other"


def file_column_stats(path: str, cols: list[str], md=None) -> list[tuple]:
    """Footer-only stats rows for ONE parquet file: ``(basename, col,
    n_rows, vmin, vmax, ord)`` with min/max stringified AFTER a typed
    merge across row groups (exactly :func:`build_zonemap`'s rows for
    that file).  Shared by the directory builder below and by the
    snapshot log's stats-at-commit recording (operators/snapshot.py),
    so an envelope is one representation everywhere.  ``md`` is the
    file's already-read footer (``FileMetaData``), if the caller has
    it; otherwise the footer is read here."""
    import pyarrow.parquet as pq

    if md is None:
        md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    rows = []
    for c in cols:
        if c not in names:
            raise ValueError(f"column {c!r} not in {path}")
        vmin = None  # typed (int/str/datetime/...), not string
        vmax = None
        n = 0
        ok = True
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(names[c])
            n += col.num_values
            st = col.statistics
            if st is None or not st.has_min_max:
                ok = False
                continue
            mn, mx = st.min, st.max
            vmin = mn if vmin is None or mn < vmin else vmin
            vmax = mx if vmax is None or vmax < mx else vmax
        if not ok:
            vmin = vmax = None  # partial stats: never prune on them
        rows.append(
            (
                os.path.basename(path),
                c,
                n,
                None if vmin is None else str(vmin),
                None if vmax is None else str(vmax),
                None if vmin is None else _ord_of(vmin),
            )
        )
    return rows


def build_zonemap(
    spark: SparkSession,
    path: str,
    cols: list[str],
    files: list[str] | None = None,
) -> DataFrame:
    """One manifest row per (file, column): ``file, col, n_rows,
    vmin, vmax, ord`` with min/max as strings (NULL when the footer
    carries no stats) and ``ord`` recording the ordering the envelope
    was merged under.  Footer-only reads; file-count-sized output.

    Row-group stats are merged as the TYPED values pyarrow returns —
    int columns merge numerically, string columns bytewise, timestamp
    columns chronologically — and stringified only once at the end,
    so the envelope is always a valid bound in the column's own
    order (a numeric merge of string stats '9'/'10' can no longer
    produce a bytewise-narrower envelope).

    On a real cluster with millions of files, run this builder AS a
    Spark job over the file list (mapInPandas over a file-name
    DataFrame — same pyarrow call per task); here the driver-side
    loop is file-count-bounded by construction and keeps the module
    dependency-light.

    ``files`` scopes the manifest to an explicit list of
    path-relative file names (a snapshot's active set, say) instead
    of every ``*.parquet`` in the directory."""
    targets = (
        [os.path.join(path, f) for f in sorted(files)]
        if files is not None
        else _list_parquet(path)
    )
    rows = []
    for f in targets:
        rows.extend(file_column_stats(f, cols))
    from ..functions.localrel import local_rows_df

    return local_rows_df(
        spark,
        rows,
        "file string, col string, n_rows long, "
        "vmin string, vmax string, ord string",
    )


_CAST_ORD = {
    "tinyint": "numeric",
    "smallint": "numeric",
    "int": "numeric",
    "integer": "numeric",
    "bigint": "numeric",
    "long": "numeric",
    "float": "numeric",
    "double": "numeric",
    "string": "bytewise",
    "varchar": "bytewise",
    "date": "temporal",
    "timestamp": "temporal",
}

# value range per integral cast — Spark's try_cast returns NULL on
# overflow, and the driver-side cut must reproduce that exactly
_INT_CAST_RANGE = {
    "tinyint": (-(1 << 7), (1 << 7) - 1),
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "integer": (-(1 << 31), (1 << 31) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
    "long": (-(1 << 63), (1 << 63) - 1),
}

# Spark try_cast(string AS <integral>) accepts ASCII-whitespace-
# trimmed [+-]?digits ONLY (decimals, exponents, hex, non-ASCII
# digits all yield NULL under ANSI try_cast — verified against
# Spark 4.1); a stat outside this shape is unprovable and keeps its
# file
_INT_STR = re.compile(r"[ \t\r\n\f\v]*([+-]?[0-9]+)[ \t\r\n\f\v]*")
# the other exact shapes: an ISO day, a finite decimal/exponent float
_ISO_DAY = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
_FINITE = re.compile(r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?")
_EPOCH = _dt.date(1970, 1, 1)


def _try_cast_int(s: str | None, cast: str):
    """Driver-side replica of ``try_cast(s AS cast)`` for integral
    casts.  Returns ``(evaluable, value)``: ``(True, int|None)`` when
    the result provably matches Spark's (None = SQL NULL), or
    ``(False, None)`` when the string's shape is outside the verified
    grammar."""
    if s is None:
        return True, None
    m = _INT_STR.fullmatch(s)
    if not m:
        return False, None
    v = int(m.group(1))
    lo, hi = _INT_CAST_RANGE[cast]
    return True, (v if lo <= v <= hi else None)


def _key_bound(stat: str | None, kind: str | None, cast: str):
    """An envelope bound as a driver value, or None when the driver
    cannot prove it equals Spark's ``try_cast(stat AS cast)`` (a NULL
    stat, a width-losing integral cast, an unparseable string, NaN or
    inf, a key type without an exact rule) — the caller then keeps
    the file.  ``kind`` is the comparison domain: ``int`` (integral
    casts), ``date`` (days since the epoch), ``double`` or
    ``string`` (byte order: Python's code-point order is UTF-8's)."""
    if stat is None:
        return None
    if kind == "int":
        ok, v = _try_cast_int(stat, cast)
        return v if ok else None
    if kind == "date" and _ISO_DAY.fullmatch(stat):
        try:
            return (_dt.date.fromisoformat(stat) - _EPOCH).days
        except ValueError:
            return None
    if kind == "double" and _FINITE.fullmatch(stat):
        return float(stat)
    if kind == "string":
        return stat
    return None


def _range_bound(v, kind: str | None):
    """A caller's range bound in ``kind``'s domain, converted the way
    Spark's comparison converts the literal, or None when it has no
    exact counterpart there (the caller then keeps every file)."""
    if isinstance(v, bool):
        return None
    if kind == "int" and isinstance(v, int):
        return v
    if kind == "double" and isinstance(v, (int, float)) and v == v:
        return float(v)
    if kind == "date" and type(v) is _dt.date:
        return (v - _EPOCH).days
    if kind == "string" and isinstance(v, str):
        return v
    return None


def prune_file_rows(
    zrows: list[tuple], col: str, lo, hi, cast: str = "bigint"
) -> list[str]:
    """The envelope-vs-range file cut over zone-map rows ``(file,
    col, n_rows, vmin, vmax, ord)``, decided on the driver: a handful
    of compares per file, where a Spark filter+collect would bill a
    whole analysis/collect round-trip for a list scan.  A file is
    KEPT when its envelope intersects ``[lo, hi]`` or when any bound
    cannot be proven exact (:func:`_key_bound` — NULL stats,
    width-losing casts, unparseable stats; :func:`_range_bound` — a
    ``lo``/``hi`` of another type): never skip blind.  Exact for
    integral, date, double and string casts; every other cast keeps
    every file."""
    base = cast.lower().split("(")[0]
    kind = "int" if base in _INT_CAST_RANGE else None
    if base in ("date", "double", "string"):
        kind = base
    lo_v, hi_v = _range_bound(lo, kind), _range_bound(hi, kind)
    keep = []
    for r in zrows:
        if r[1] != col:
            continue
        vmin, vmax = _key_bound(r[3], kind, base), _key_bound(r[4], kind, base)
        if (
            None in (lo_v, hi_v, vmin, vmax)
            or (vmin <= hi_v and vmax >= lo_v)
        ):
            keep.append(r[0])
    return sorted(keep)


def prune_files(
    zonemap: DataFrame, col: str, lo, hi, cast: str = "bigint"
) -> list[str]:
    """Files whose [vmin, vmax] envelope intersects [lo, hi] on
    ``col`` (cast to ``cast`` for the comparison), plus every file
    with NULL stats (never skip blind).  One manifest-sized collect;
    the cut is :func:`prune_file_rows`.

    Raises ``ValueError`` when ``cast``'s comparison semantics
    disagree with the ordering the envelope was built under (e.g.
    cast='string' against a numeric envelope) — a mismatched prune
    could skip files that match, so it is an error, never a guess."""
    required = _CAST_ORD.get(cast.lower().split("(")[0])
    if required is None:
        raise ValueError(f"unsupported prune cast {cast!r}")
    zrows = [
        (r["file"], r["col"], r["n_rows"], r["vmin"], r["vmax"], r["ord"])
        for r in zonemap.filter(F.col("col") == col).collect()
    ]
    mismatched = next(
        (r for r in zrows if r[5] is not None and r[5] != required), None
    )
    if mismatched:
        raise ValueError(
            f"zone-map ordering mismatch on {col!r}: envelope built "
            f"{mismatched[5]}, prune cast {cast!r} compares "
            f"{required} (file {mismatched[0]})"
        )
    return prune_file_rows(zrows, col, lo, hi, cast)


def pruned_scan(
    spark: SparkSession,
    path: str,
    zonemap: DataFrame,
    col: str,
    lo,
    hi,
    cast: str = "bigint",
) -> DataFrame:
    """Range scan that schedules ONLY the surviving files, then
    applies the exact predicate (zone maps over-approximate; the
    filter is still required and still pushes down within files)."""
    names = set(prune_files(zonemap, col, lo, hi, cast))
    files = [
        f for f in _list_parquet(path) if os.path.basename(f) in names
    ]
    if not files:
        return (
            spark.read.parquet(path)
            .filter(F.lit(False))
        )
    return (
        spark.read.parquet(*files)
        .filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )
    )


def zonemap_oracle(path: str, cols: list[str]) -> str:
    """DuckDB SQL rebuilding :func:`build_zonemap` from
    ``parquet_metadata()`` joined to ``parquet_schema()`` — an
    independent footer reader agreeing with the pyarrow walk.  The
    ordering branch is decided by the column's PHYSICAL/LOGICAL type
    (exactly as the builder's typed merge does), never by whether a
    stat value happens to parse as a number — so a string column
    holding '9'/'10' merges bytewise on both engines.  (DuckDB prints
    timestamp stats in the same fixed 'YYYY-MM-DD HH:MM:SS[.ffffff]'
    shape as Python's ``str(datetime)``, and that shape sorts
    lexically in chronological order, so temporal envelopes MIN/MAX
    on the rendered strings.)"""
    in_list = ", ".join(f"'{c}'" for c in cols)
    glob = path if path.endswith(".parquet") else f"{path}/*.parquet"
    return f"""WITH typed AS (
  SELECT m.file_name, m.path_in_schema, m.num_values,
         m.stats_min_value, m.stats_max_value,
         CASE
           WHEN s.converted_type LIKE 'TIMESTAMP%'
                OR s.converted_type = 'DATE'
                OR s.logical_type LIKE 'Timestamp%'
                OR s.logical_type LIKE 'Date%'
             THEN 'temporal'
           WHEN m.type IN ('INT32', 'INT64', 'FLOAT', 'DOUBLE')
             THEN 'numeric'
           WHEN m.type = 'BYTE_ARRAY'
                AND (s.converted_type = 'UTF8'
                     OR s.logical_type LIKE 'String%')
             THEN 'bytewise'
           ELSE 'other'
         END AS ord
  FROM parquet_metadata('{glob}') m
  JOIN parquet_schema('{glob}') s
    ON s.file_name = m.file_name AND s.name = m.path_in_schema
  WHERE m.path_in_schema IN ({in_list})
)
SELECT regexp_extract(file_name, '[^/]+$') AS file,
       path_in_schema AS col,
       CAST(SUM(num_values) AS BIGINT) AS n_rows,
       CASE WHEN COUNT(*) <> COUNT(stats_min_value) THEN NULL
            WHEN ord = 'numeric'
            THEN ARG_MIN(stats_min_value,
                         TRY_CAST(stats_min_value AS DOUBLE))
            ELSE MIN(stats_min_value) END AS vmin,
       CASE WHEN COUNT(*) <> COUNT(stats_max_value) THEN NULL
            WHEN ord = 'numeric'
            THEN ARG_MAX(stats_max_value,
                         TRY_CAST(stats_max_value AS DOUBLE))
            ELSE MAX(stats_max_value) END AS vmax,
       CASE WHEN COUNT(*) <> COUNT(stats_min_value) THEN NULL
            ELSE ord END AS ord
FROM typed
GROUP BY file_name, path_in_schema, ord"""
