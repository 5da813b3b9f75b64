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

Each kernel body first calls :func:`skip_unchanged_zip_rereads`, which
stops a reused Python worker from re-reading ``pyspark.zip`` before
every task.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle

# Kernels that call these helpers are pickled to the Python workers.
# Pickling this module by value ships the helpers with each kernel, so
# a worker does not need this package on its import path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def skip_unchanged_zip_rereads() -> None:
    """Make the running Spark task's worker re-read a zip archive's
    directory only when the archive changed on disk.

    Before each task PySpark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``.  On CPython 3.10-3.12 that
    makes every ``zipimporter`` re-read its whole archive directory
    (``pyspark.zip`` has over a thousand entries, and a worker holds
    about sixteen importers): 0.1-0.2 s per task on a 4-vCPU host.
    CPython 3.13 defers the re-read until an import needs it, so it is
    left alone.

    The replacement re-reads through the stdlib method only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from its last
    re-read, or the archive has no cached directory; otherwise the
    importer keeps the cached one.  It lives as long as the worker
    process, so only the first task of each worker still pays the
    re-read.  Idempotent, and a no-op outside a Spark task: the
    driver's interpreter is never patched.
    """
    import zipimport

    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        return
    if getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a write racing the read leaves a stale
        # key, which only forces one more re-read
        stdlib(self)
        read_at[self.archive] = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
