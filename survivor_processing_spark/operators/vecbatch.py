"""Arrow vector batches for the engine's numpy kernels.

Every embedding kernel (k-means and semantic-dedup assignment, PQ
codes, IVF lists, decontamination and semantic-dedup pairing) runs as
an ``arrow_udf`` or ``applyInArrow`` function: Spark hands it an Arrow
list column, and this module turns that column into one dense numpy
matrix without a per-row Python loop (one ``flatten`` and a
``reshape``), then turns per-row results back into an Arrow column.

It also holds the two exact tests those kernels share: the squared-L2
argmin and the sqrt-free integer cosine threshold.  Both are
bit-identical to the JVM expressions and DuckDB oracles they are gated
against; the docstrings state the rules that make them so.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle

# Kernels that call these helpers are pickled to the Python workers.
# Pickling this module by value ships the helpers with each kernel, so
# a worker does not need this package on its import path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def as_matrix(col: pa.Array | pa.ChunkedArray, dim: int, dtype):
    """``(ok, mat)`` for an Arrow list column.

    ``ok`` is a bool array, one entry per row: True where the row is
    non-NULL, exactly ``dim`` lanes long and has no NULL lane.  ``mat``
    is an ``(ok.sum(), dim)`` array of ``dtype`` holding those rows in
    order.  Lanes convert with ``astype``, so float32 storage widens to
    float64 exactly, as ``cast(array<float> as array<double>)`` does.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    ok_arr = pc.fill_null(pc.equal(pc.list_value_length(col), dim), False)
    rows = col.filter(ok_arr)
    ok = ok_arr.to_numpy(zero_copy_only=False)
    flat = rows.flatten()
    if flat.null_count:
        lanes_ok = ~(
            pc.is_null(flat).to_numpy(zero_copy_only=False).reshape(-1, dim).any(1)
        )
        ok[ok] = lanes_ok
        flat = rows.filter(pa.array(lanes_ok)).flatten()
    mat = flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return ok, mat.reshape(-1, dim)


def expand(ok: np.ndarray, values: pa.Array) -> pa.Array:
    """``values``, one per valid row, placed back at the positions
    where ``ok`` is True; the other rows are NULL."""
    if ok.all():
        return values
    return values.take(pa.array(np.cumsum(ok) - 1, mask=~ok))


def argmin_l2(mat: np.ndarray, cents: np.ndarray):
    """``(idx, dist)``: for each row of ``mat``, the index of the
    nearest row of ``cents`` by squared L2 distance, and that distance.

    Exactness rules, in the dtype of ``cents``:
    - int64 sums are exact in any order.
    - float64 sums run lane by lane, the left fold
      ``((0 + t1) + t2) + ...`` that ``aggregate(zip_with(...))``
      computes, so the result is the same IEEE value.  Do not replace
      the loop with a norm or matmul expansion: that rounds
      differently.
    - A NaN distance ranks last (+inf), as Spark's ``array_min``
      orders NaN above every number.
    - Ties take the first minimum, as ``array_position(d,
      array_min(d))`` does.
    """
    acc = np.zeros((mat.shape[0], cents.shape[0]), dtype=cents.dtype)
    for i in range(cents.shape[1]):
        d = mat[:, i, None] - cents[None, :, i]
        acc += d * d
    if acc.dtype.kind == "f":
        acc[np.isnan(acc)] = np.inf
    idx = np.argmin(acc, axis=1)
    return idx, acc[np.arange(len(idx)), idx]


def cosine_hits(
    dots: np.ndarray, n2a: np.ndarray, n2b: np.ndarray, num: int, den: int
) -> np.ndarray:
    """``cos(a, b) >= sqrt(num/den)`` without a square root, as a bool
    matrix over an int64 dot matrix and the int64 squared norms of its
    rows (``n2a``) and columns (``n2b``):
    ``dot > 0 AND den*dot^2 >= num*n2a*n2b``.

    int64 products wrap exactly like JVM longs, in any order, so the
    test matches the Spark and DuckDB forms bit for bit; callers bound
    the norms where a wrap must not happen.
    """
    return (dots > 0) & (den * dots * dots >= num * n2a[:, None] * n2b[None, :])
