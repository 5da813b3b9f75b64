"""K-means (Lloyd's algorithm) over an embedding column — the
iterative-algorithm surface of the LLM-pipeline extensions (IVF
coarse quantizers, corpus clustering for mix curation).

Spark-first shape: each iteration is ONE distributed pass —
assignment is a numpy Arrow batch kernel with the centroid matrix
(k·dim numbers, trivially driver-held) in its closure, the centroid
update is posexplode + hash aggregate (map-side partial sums).
Nothing but the k·dim centroid matrix ever reaches the driver; the
loop is driver-side control flow over lazy plans, which is exactly
how MLlib's own KMeans iterates.

Determinism: seeds are chosen without RNG, distances are exact
(int64, or float64 summed in lane order), ties break toward the
lowest cluster id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _np_assign_udf(cents: list[tuple[int, list]], int_lanes: bool):
    """Arrow batch kernel labeling each vector with the ``cents``
    label of its nearest centroid by squared L2 distance
    (``vecbatch.argmin_l2``: exact int64 with ``int_lanes``, else the
    float64 lane-ordered fold of the ``aggregate(zip_with(...))``
    expression; first-minimum ties).  A numpy batch replaces k×dim
    interpreted higher-order-function lambdas per row, which never
    enter whole-stage codegen.  Rows that are NULL, have a NULL lane
    or are not ``dim`` long label NULL."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from .vecbatch import argmin_l2, as_matrix, expand, skip_unchanged_zip_rereads

    labels = np.asarray([i for i, _ in cents], dtype="int32")
    cmat = np.asarray(
        [lanes for _, lanes in cents],
        dtype="int64" if int_lanes else "float64",
    )
    dim = cmat.shape[1]

    def fn(v):
        skip_unchanged_zip_rereads()
        ok, m = as_matrix(v, dim, cmat.dtype)
        idx, _ = argmin_l2(m, cmat)
        return expand(ok, pa.array(labels[idx]))

    return arrow_udf(fn, "int")


def _sq_dist(vec_col: str, centroid: list[float]):
    """Squared L2 distance between an array<float/double> column and
    a centroid literal, fully JVM-side (zip_with + aggregate).

    The centroid literal is ONE parsed SQL string, not dim F.lit()
    py4j round trips — see functions/sql_literals.py for the shared
    helpers and the measurements; repr() round-trips each component
    to the identical IEEE double, so the expression is bit-equal to
    the lit() form."""
    from ..functions.sql_literals import sql_double_array

    arr = sql_double_array(centroid)
    return F.expr(
        f"aggregate(zip_with(cast({vec_col} as array<double>), {arr},"
        " (a, b) -> (a-b)*(a-b)), cast(0.0 as double), (acc, x) -> acc + x)"
    )


def update_centroids(
    assigned: DataFrame, vec_col: str, k: int, dim: int
) -> list[list[float]]:
    """Mean vector per cluster via posexplode + one hash aggregate;
    only the k×dim result is collected.  Rows the kernel could not
    label (NULL cluster) take no part."""
    means = (
        assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    out: list[list[float]] = [[0.0] * dim for _ in range(k)]
    for r in means:
        if r["cluster"] is not None:
            out[r["cluster"]][r["pos"]] = float(r["m"])
    return out


def farthest_point_init(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> list[list[float]]:
    """Deterministic k-center seeding (the greedy farthest-point /
    max-min heuristic, i.e. k-means++ with argmax instead of RNG):
    seed 1 is the lowest-id vector; each next seed maximizes the
    min distance to the chosen set, ties to the lowest id.  k scans,
    each a JVM expression + one-row max_by — no sampling, no RNG,
    and seeds land one per well-separated blob by construction
    (first-k-ids seeding can drop all k seeds into one blob)."""
    first = (
        df.orderBy(id_col).limit(1).select(F.col(vec_col).cast("array<double>"))
    ).collect()
    centroids = [list(first[0][0])]
    # incremental min-distance: pass i folds ONE new HOF distance
    # into a checkpointed running minimum — O(k) interpreted-lambda
    # scans total instead of the O(k²) of re-evaluating every
    # centroid's distance each pass (measured 6.3 s -> ~2 s for the
    # k=8 init at sf1).  least() is pure selection, so the running
    # fold is bit-identical to the full re-evaluation — same picks,
    # same tiebreaks, same centroids.  Each checkpoint holds
    # (id, vec, mind); on a real cluster persist(MEMORY_AND_DISK)
    # and unpersist the superseded generation instead.
    work = df.select(
        F.col(id_col), F.col(vec_col), _sq_dist(vec_col, centroids[0]).alias("_mind")
    ).localCheckpoint(eager=False)
    while len(centroids) < k:
        # max_by on (distance, -id): farthest wins, lowest id on ties
        pick = work.select(
            F.max_by(
                F.col(vec_col).cast("array<double>"),
                F.struct(F.col("_mind").alias("d"), (-F.col(id_col)).alias("tb")),
            ).alias("v")
        ).collect()
        centroids.append(list(pick[0]["v"]))
        if len(centroids) < k:
            work = work.select(
                F.col(id_col),
                F.col(vec_col),
                F.least(
                    F.col("_mind"), _sq_dist(vec_col, centroids[-1])
                ).alias("_mind"),
            ).localCheckpoint(eager=False)
    return centroids


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 5,
    init_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means: farthest-point init (or caller-
    supplied ``init_centroids``, e.g. to start two engine variants
    from the SAME seeds for a convergence-parity gate), ``iters``
    assignment/update rounds, returns the input with a final
    ``cluster`` column."""
    # k init scans + iters assignment passes all re-read the source
    # otherwise; pin the working set once (on a cluster: persist to
    # MEMORY_AND_DISK — same idea, fault-tolerant storage).  The loop
    # runs ~k+iters tiny sequential jobs, so empty-task scheduling
    # dominates if the vector table is over-partitioned: right-size
    # to ~64k vectors/partition before pinning (a 100 TB corpus keeps
    # its natural partitioning — the guard only ever shrinks).
    # coalesce is shrink-only by construction, so the former
    # min(current-partitions, target) probe (a full planning pass via
    # df.rdd) is redundant
    n_parts = max(1, df.count() // 65536 + 1)
    df = df.coalesce(n_parts).localCheckpoint(eager=True)
    if init_centroids is None:
        centroids = farthest_point_init(df, vec_col, id_col, k)
    else:
        centroids = [list(map(float, c)) for c in init_centroids]
    dim = len(centroids[0])

    # the float64 lane-ordered fold labels exactly as the
    # zip_with/aggregate distance expression would (see _np_assign_udf)
    def _assigned(cents: list[list[float]]) -> DataFrame:
        u = _np_assign_udf(list(enumerate(cents)), int_lanes=False)
        return df.withColumn("cluster", u(F.col(vec_col)))

    for _ in range(iters):
        centroids = update_centroids(_assigned(centroids), vec_col, k, dim)
    return _assigned(centroids)


def kmeans_lloyd_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """ENGINE-PORTABLE full Lloyd's k-means: ``iters`` complete
    assignment/update rounds whose every step a DuckDB oracle can
    replay bit-for-bit.  Float centroid MEANS are not portable, so
    this variant runs Lloyd entirely in INTEGER arithmetic:

    - vectors are quantized once: ``floor(x*1e6+0.5)`` per lane to
      int64 (exact, order-free);
    - seeds are the k vectors with the smallest md5 of their id
      string (portable ordering; no RNG);
    - assignment is argmin of the exact integer squared L2 distance,
      ties to the lowest cluster idx;
    - the centroid update is the FLOOR-DIVISION mean of the quantized
      lanes (``floordiv(sum, count)``) — an exact integer both
      engines compute identically, replacing the unportable float
      mean.  The fixed-point grid is 1e-6 of the embedding scale, so
      the clustering is semantically Lloyd with a microscopic
      rounding of each centroid update; the float variant
      (``kmeans_lloyd``) remains the numerically-classical sibling.
    - clusters that lose all members simply drop out of the centroid
      set (their label is never reassigned) — same rule both sides.

    Driver traffic is bounded: k seed vectors + k·dim lane sums per
    iteration; assignment is the numpy batch kernel.  The
    quantized working set is pinned with localCheckpoint so the
    2·iters passes don't re-read parquet (at 100 TB: persist to
    MEMORY_AND_DISK instead).
    """
    q_expr = F.expr(
        f"transform(cast({vec_col} as array<double>),"
        " x -> cast(floor(x * 1000000.0 + 0.5) as bigint))"
    )
    # Vector hygiene, quarantine semantics (matching the LSH pipeline
    # and the oracle's mirrored filters): drop NULL vectors (a NULL
    # seed TypeErrors driver-side), vectors with a NULL LANE (Spark's
    # aggregate NULL-poisons the distance while DuckDB's SUM skips
    # the lane — silent cross-engine divergence), and vectors of any
    # other length than ``dim`` (zip_with NULL-pads a short vector so
    # every distance — and the label — goes NULL; a long vector
    # overruns the [0]*n_lanes sum list driver-side; the oracle's
    # generate_series(1, dim) truncates).  When ``dim`` is None it is
    # DERIVED from the md5-smallest clean vector (the first seed) so
    # the size filter applies unconditionally.
    clean = F.col(vec_col).isNotNull() & ~F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    if dim is None:
        probe = (
            df.where(clean)
            .select(
                F.size(F.col(vec_col)).alias("_d"),
                F.md5(F.col(id_col).cast("string")).alias("_m"),
            )
            .orderBy("_m")
            .limit(1)
            .collect()
        )
        if not probe:  # empty input: empty labeled output, same schema
            return df.sparkSession.createDataFrame(
                [],
                f"{id_col} {df.schema[id_col].dataType.simpleString()},"
                " cluster_idx int",
            )
        dim = int(probe[0]["_d"])
    clean = clean & (F.size(F.col(vec_col)) == dim)
    qdf = (
        df.where(clean)
        .select(F.col(id_col), q_expr.alias("_q"))
        .localCheckpoint(eager=True)
    )
    seed_rows = (
        qdf.select("_q", F.md5(F.col(id_col).cast("string")).alias("_m"))
        .orderBy("_m")
        .limit(k)
        .collect()
    )
    if not seed_rows:  # empty input: empty labeled output, same schema
        return df.sparkSession.createDataFrame(
            [],
            f"{id_col} {df.schema[id_col].dataType.simpleString()},"
            " cluster_idx int",
        )
    # centroids: ordered [(cluster_idx, lanes)] — idx is the md5 rank
    centroids = [(i, list(r["_q"])) for i, r in enumerate(seed_rows)]
    n_lanes = len(centroids[0][1])

    def assigned(cents: list[tuple[int, list[int]]]) -> DataFrame:
        # exact int64 argmin, first-min ties (see _np_assign_udf);
        # qdf rows are pre-filtered to clean dim-length vectors, so
        # every row gets a label
        u = _np_assign_udf(cents, int_lanes=True)
        return qdf.select(
            F.col(id_col), u(F.col("_q")).alias("cluster_idx"), "_q"
        )

    for _ in range(iters):
        sums = (
            assigned(centroids)
            .select("cluster_idx", F.posexplode("_q").alias("pos", "x"))
            .groupBy("cluster_idx", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_idx: dict[int, list[int]] = {}
        for r in sums:  # bounded: k*n_lanes rows
            by_idx.setdefault(int(r["cluster_idx"]), [0] * n_lanes)[
                int(r["pos"])
            ] = int(r["s"]) // int(r["n"])  # Python // floors: matches SQL
        centroids = sorted(by_idx.items())
    return assigned(centroids).select(id_col, "cluster_idx")

