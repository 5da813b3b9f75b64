"""Array literals as ONE parsed SQL string.

Each ``F.lit()`` is a py4j round trip (~0.5 ms of driver time), so
literals that scale with k, dim, or filter size must never be built
per-element — measured three times in this repo: the Bloom filter's
16k-word array (~1.5 s of analysis per query build, SCALE.md r5),
the portable Lloyd loop's k x dim x iters centroid lanes (4.1 s ->
1.4 s at sf0.1, r6), and the portable LSH's 4,096 sign lanes (made
the query flat across 10x data, r6).  These helpers keep the
suffix/cast/non-finite spelling rules in one place.
"""

from __future__ import annotations


def sql_long_array(values) -> str:
    """``array(1L,2L,...)`` — int64 lanes."""
    return "array(" + ",".join(f"{int(v)}L" for v in values) + ")"


def sql_int_array(values) -> str:
    """``array(1,-1,...)`` — int32 lanes."""
    return "array(" + ",".join(str(int(v)) for v in values) + ")"


def sql_double_lit(x: float) -> str:
    """One double literal via string cast: repr() round-trips the
    exact IEEE value, and non-finite lanes use the 'Infinity'/'NaN'
    spellings Spark's string->double cast accepts (Python's
    'inf'/'nan' reprs would cast to NULL)."""
    v = float(x)
    if v != v:
        s = "NaN"
    elif v == float("inf"):
        s = "Infinity"
    elif v == float("-inf"):
        s = "-Infinity"
    else:
        s = repr(v)
    return f"cast('{s}' as double)"


def sql_double_array(values) -> str:
    """``array(cast('…' as double),...)`` — float64 lanes."""
    return "array(" + ",".join(sql_double_lit(x) for x in values) + ")"
