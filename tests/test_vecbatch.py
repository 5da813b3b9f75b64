"""The numpy vector kernels and their shared Arrow batch layer
(operators/vecbatch.py): exactness rules, totality and plan shape.
The kernels' randomized oracle checks live with their operators'
tests (test_lloyd_property, test_pq, test_semantic_dedup,
test_semantic_decontam)."""

from __future__ import annotations

import hashlib
import math
import os
import subprocess
import sys
import zipimport

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType

from survivor_processing_spark.operators.cluster import _np_assign_udf, _sq_dist
from survivor_processing_spark.operators.decontam import _hits_udf
from survivor_processing_spark.operators.pq import _np_pq_udf
from survivor_processing_spark.operators.similarity import (
    _dup_pairs_fn,
    _ivf_assign_udf,
    build_ivf_index,
)
from survivor_processing_spark.operators.vecbatch import skip_unchanged_zip_rereads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _assign_clusters(df, vec_col: str, centroids: list[list[float]]):
    """Float-lane reference: ``cluster`` = argmin over the centroid
    distances as JVM expressions (the ``aggregate(zip_with(...))``
    left fold); ``array_position`` takes the FIRST minimum."""
    staged = df.withColumn(
        "_dists", F.array(*[_sq_dist(vec_col, c) for c in centroids])
    )
    cluster = (
        F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1
    ).cast("int")
    return staged.withColumn("cluster", cluster).drop("_dists")


def test_np_assign_kernel_matches_expression_assignment(spark):
    """Float lane: the numpy kernel must agree with the expression
    form row-for-row, including an exact tie (first centroid wins), a
    NaN lane (every distance NaN: first centroid, as array_position
    matches NaN), a NULL lane (NULL label) and float32 inputs widened
    to float64."""
    rows = [
        (1, [0.1, 0.2, 0.3]),
        (2, [5.0, 5.0, 5.0]),
        (3, [1.0, 0.0, 0.0]),  # exact tie between c0 and c1
        (4, [0.30000000000000004, 1e-17, -0.0]),
        (5, [2.6, 2.4, 2.5]),
        (6, [float("nan"), 0.0, 0.0]),
        (7, [1.0, None, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    cents = [[0.0, 0.0, 0.0], [2.0, 0.0, 0.0], [5.0, 5.0, 5.0]]
    expr_labels = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters(df, "v", cents).collect()
    }
    u = _np_assign_udf(list(enumerate(cents)), int_lanes=False)
    np_labels = {
        r["vec_id"]: r["c"]
        for r in df.select("vec_id", u("v").alias("c")).collect()
    }
    assert np_labels == expr_labels
    assert np_labels[3] == 0  # tie -> first minimum
    assert np_labels[6] == 0 and np_labels[7] is None
    # float32 storage widens exactly like cast(array<float> as double)
    df32 = df.select("vec_id", F.col("v").cast("array<float>").alias("v"))
    np32 = {
        r["vec_id"]: r["c"]
        for r in df32.select("vec_id", u("v").alias("c")).collect()
    }
    assert np32 == {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters(df32, "v", cents).collect()
    }


# Shared inputs of the totality test: the first four rows are valid,
# the rest are the cases every kernel must survive.
ROWS = [
    (1, [0, 0]),
    (2, [5, 0]),  # exact L2 tie between CENTS[0] and CENTS[1]
    (3, [29, 41]),
    (4, [3, 4]),  # cosine with row 2 and BENCH 100 exactly sqrt(NUM/DEN)
    (5, None),  # NULL vector
    (6, [1, 2, 3]),  # wrong length
    (7, [7, None]),  # NULL lane
]
VALID = {1, 2, 3, 4}
INVALID_BATCH = [None, [1, 2, 3], [7, None]]
CENTS = [[0, 0], [10, 0], [30, 40]]
BENCH = [(100, [10, 0]), (101, [3, 4]), (None, [0, 1])]
NUM, DEN = 9, 25  # cosine >= 0.6
N2_SQL = "aggregate(transform({0}, x -> x*x), 0L, (a, x) -> a + x)"


def _sq(a, b) -> int:
    return sum((x - y) ** 2 for x, y in zip(a, b))


def _first_min(ds: list) -> int:
    return ds.index(min(ds))


def _cos_hit(a, b) -> tuple[bool, int]:
    dot = sum(x * y for x, y in zip(a, b))
    n2a, n2b = _sq(a, [0, 0]), _sq(b, [0, 0])
    return dot > 0 and DEN * dot * dot >= NUM * n2a * n2b, dot


def _row_kernel(name: str):
    """(udf, lane type, reference for a valid row) of one row kernel."""
    if name in ("assign_int", "assign_float32"):
        int_lanes = name == "assign_int"
        cents = [
            (i, [c if int_lanes else float(c) for c in cs])
            for i, cs in enumerate(CENTS)
        ]
        u = _np_assign_udf(cents, int_lanes=int_lanes)
        return u, "bigint" if int_lanes else "float", lambda v: _first_min(
            [_sq(v, c) for c in CENTS]
        )
    if name == "pq":
        labels = [0, 2, 5]  # surviving cluster ids, not positions
        cents = {
            sp: [(lab, [c[sp]]) for lab, c in zip(labels, CENTS)]
            for sp in range(2)
        }
        query = [3, 1]
        tbls = [[(query[sp] - c[sp]) ** 2 for c in CENTS] for sp in range(2)]
        u = _np_pq_udf(cents, 2, 1, adc_tbls=tbls)

        def ref(v):
            best = [
                _first_min([(v[sp] - c[sp]) ** 2 for c in CENTS])
                for sp in range(2)
            ]
            return {
                "codes": [labels[b] for b in best],
                "mind": [(v[sp] - CENTS[b][sp]) ** 2 for sp, b in enumerate(best)],
                "adc": sum(tbls[sp][b] for sp, b in enumerate(best)),
            }

        return u, "bigint", ref
    if name == "ivf":
        dirs = [[1.0, 0.0], [1.0, 0.0], [0.6, 0.8]]  # c0/c1: exact cosine tie

        def cos(v, c):
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            return sum(x * y for x, y in zip(v, c)) / n

        u = _ivf_assign_udf(np.asarray(dirs))
        return u, "float", lambda v: max(
            range(3), key=lambda i: (cos(v, dirs[i]), -i)
        )
    assert name == "decontam"
    bench = [{"_eid": e, "_qb": q, "_n2b": _sq(q, [0, 0])} for e, q in BENCH]
    u = _hits_udf(bench, LongType(), 2, NUM, DEN)

    def ref(v):
        hits = [(e, _cos_hit(v, q)[1]) for e, q in BENCH if _cos_hit(v, q)[0]]
        return hits or None

    return u, "bigint", ref


def _plain(x):
    if hasattr(x, "asDict"):
        return {k: _plain(v) for k, v in x.asDict().items()}
    if isinstance(x, list):
        return [tuple(e) if hasattr(e, "asDict") else e for e in x]
    return x


@pytest.mark.parametrize(
    "kernel", ["assign_int", "assign_float32", "pq", "ivf", "decontam"]
)
def test_kernels_exact_and_total(spark, kernel):
    """Every row kernel against a pure-Python reference: exact ties
    (first minimum / first maximum), float32 lanes widened exactly,
    and the totality cases — NULL vector, wrong length and NULL lane
    yield NULL, an empty batch yields an empty column and an
    all-invalid batch all NULLs."""
    u, lane_t, ref = _row_kernel(kernel)
    cast = float if lane_t == "float" else int
    rows = [
        (i, v and [None if x is None else cast(x) for x in v]) for i, v in ROWS
    ]
    df = spark.createDataFrame(rows, f"vec_id long, v array<{lane_t}>")
    args = [F.col("v")]
    if kernel == "decontam":
        args.append(F.expr(N2_SQL.format("v")))
    got = {
        r["vec_id"]: _plain(r["c"])
        for r in df.select("vec_id", u(*args).alias("c")).collect()
    }
    for vid, v in ROWS:
        assert got[vid] == (ref(v) if vid in VALID else None), (vid, got[vid])
    if kernel == "assign_int":
        assert got[2] == 0  # the tie goes to the first centroid

    arrow_t = pa.list_(pa.int64() if lane_t == "bigint" else pa.float32())
    for batch, want in (([], []), (INVALID_BATCH, [None] * 3)):
        col = pa.array(batch, type=arrow_t)
        extra = [pa.array([None] * len(batch), type=pa.int64())]
        out = u.func(col, *extra) if kernel == "decontam" else u.func(col)
        assert out.to_pylist() == want


def test_dup_pairs_kernel_exact_and_total(spark):
    """The grouped pair kernel over the same rows: the later-ranked
    member of each passing pair is the dup, its first-ranked partner
    the keeper; invalid vectors never pair; empty and all-invalid
    groups emit nothing."""
    df = spark.createDataFrame(ROWS, "vec_id long, _q array<bigint>").select(
        "vec_id",
        F.md5(F.col("vec_id").cast("string")).alias("_m"),
        "_q",
        F.expr(N2_SQL.format("_q")).alias("_n2"),
        F.lit(0).alias("cluster_idx"),
    )
    fn = _dup_pairs_fn("vec_id", 2, NUM, DEN)
    got = sorted(
        map(
            tuple,
            df.groupBy("cluster_idx")
            .applyInArrow(fn, "vec_id long, cluster_idx int, dup_of long")
            .collect(),
        )
    )
    ranked = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), i, v)
        for i, v in ROWS
        if i in VALID
    )
    want = []
    for j, (_, jid, jv) in enumerate(ranked):
        keepers = [iid for _, iid, iv in ranked[:j] if _cos_hit(iv, jv)[0]]
        if keepers:
            want.append((jid, 0, keepers[0]))
    assert want, "fixture has no passing pair — weak test"
    assert got == sorted(want)

    for batch in ([], INVALID_BATCH):
        n = len(batch)
        tbl = pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "_m": pa.array(["m"] * n, pa.string()),
                "_q": pa.array(batch, pa.list_(pa.int64())),
                "_n2": pa.array([0] * n, pa.int64()),
                "cluster_idx": pa.array([0] * n, pa.int32()),
            }
        )
        assert fn(tbl).num_rows == 0


def test_pq_fit_pass_evaluates_kernel_below_explode(spark):
    """The PQ training pass mirrors this exact shape (pq._fit): the
    kernel projection FIRST, the posexplode in a separate select.
    Putting a generator and a UDF in one select evaluates the UDF per
    OUTPUT row — dim x per vector (measured 2.4x slower end-to-end
    than the HOF form it replaced); the split keeps ArrowEvalPython
    strictly below the Generate, once per vector."""
    qdf = spark.createDataFrame(
        [(1, list(range(8))), (2, list(range(8, 16)))],
        "vec_id: long, _q: array<bigint>",
    )
    cents = {sp: [(i, [0] * 4) for i in range(2)] for sp in range(2)}
    u = _np_pq_udf(cents, 2, 4)
    staged = qdf.select(u(F.col("_q")).getField("codes").alias("_labs"), "_q")
    df = staged.select("_labs", F.posexplode("_q").alias("pos", "x"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    # the plan string prints top-down: the python eval must appear
    # AFTER (= deeper than) the Generate
    assert plan.index("ArrowEvalPython") > plan.index("Generate")
    # and the fused form this guards against would flip that order
    fused = qdf.select(
        u(F.col("_q")).getField("codes").alias("_labs"),
        F.posexplode("_q").alias("pos", "x"),
    )
    fplan = fused._jdf.queryExecution().executedPlan().toString()
    assert fplan.index("ArrowEvalPython") < fplan.index("Generate")


def test_ivf_index_ragged_vector_gets_null_cluster(spark):
    """One 2-lane vector among 3-lane ones: it gets a NULL cluster_id
    instead of failing the job, and its NULL label stays out of the
    centroid update (numpy would broadcast new_cent[None] over every
    centroid, collapsing the index)."""
    rows = [
        (i, [1.0 if i % 3 == a else 0.01 * i for a in range(3)]) for i in range(12)
    ] + [(99, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assigned = build_ivf_index(df, n_centroids=3, refine_iters=2)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got.pop(99) is None
    assert None not in got.values()
    assert all(len(c) == 3 for _, c in cents)
    assert len({tuple(c) for _, c in cents}) == len(cents)


_PATCHED_VERSION = (3, 10) <= sys.version_info[:2] <= (3, 12)
_PATCHED = "skip_unchanged_zip_rereads.<locals>.invalidate_caches"

# Run in a fresh interpreter: the patch lasts for the life of the
# process, and the test process is the driver, which must stay
# unpatched.
_ZIP_PROBE = r"""
import importlib, sys, zipfile, zipimport
from pyspark import TaskContext
from survivor_processing_spark.operators.vecbatch import (
    skip_unchanged_zip_rereads,
)

archive = sys.argv[1]


def write(value):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zprobe_mod.py", f"VALUE = {value!r}\n")


write("old")
sys.path.insert(0, archive)
import zprobe_mod

assert zprobe_mod.VALUE == "old"
reads = []
stdlib_read = zipimport._read_directory


def counting_read(path):
    reads.append(path)
    return stdlib_read(path)


zipimport._read_directory = counting_read
importlib.invalidate_caches()
assert reads.count(archive) == 1, reads  # the stdlib re-reads every call

TaskContext._getOrCreate()  # act as a task
skip_unchanged_zip_rereads()
patched = zipimport.zipimporter.invalidate_caches
skip_unchanged_zip_rereads()
assert zipimport.zipimporter.invalidate_caches is patched  # idempotent
importlib.invalidate_caches()  # keys the archive: at most one re-read
reads.clear()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert archive not in reads, reads

write("new, and longer")
importlib.invalidate_caches()
assert reads.count(archive) == 1, reads
del sys.modules["zprobe_mod"]
import zprobe_mod

assert zprobe_mod.VALUE == "new, and longer"
print("OK")
"""


@pytest.mark.skipif(not _PATCHED_VERSION, reason="stdlib defers re-reads")
def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    """In a fresh interpreter acting as a task: ``invalidate_caches``
    reads an unchanged zip's directory no more, and a zip rewritten
    with a changed module is re-read and its new module imports."""
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(tmp_path / "probe.zip")],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert r.returncode == 0 and r.stdout.strip() == "OK", r.stderr


@pytest.mark.skipif(not _PATCHED_VERSION, reason="stdlib defers re-reads")
def test_kernel_task_patches_its_worker_not_the_driver(spark):
    """A kernel task installs the patch inside its Python worker (a
    chained probe UDF, run in the same worker right after the kernel,
    reports the method); the driver keeps the stdlib method."""
    from pyspark.sql.functions import arrow_udf

    def probe(labels):
        import zipimport as zi

        name = zi.zipimporter.invalidate_caches.__qualname__
        return pa.array([name] * len(labels))

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id long, v array<double>"
    )
    kernel = _np_assign_udf([(0, [0.0, 0.0]), (1, [2.0, 0.0])], int_lanes=False)
    got = {r[0] for r in df.select(arrow_udf(probe, "string")(kernel("v"))).collect()}
    assert got == {_PATCHED}
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == (
        "zipimporter.invalidate_caches"
    )


def test_zip_patch_is_a_noop_outside_a_task():
    """Called on the driver (no TaskContext) it patches nothing."""
    before = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is before
    assert before.__qualname__ == "zipimporter.invalidate_caches"
