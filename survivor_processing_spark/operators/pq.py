"""Product quantization (PQ): train per-subspace codebooks and
encode every embedding into m small codes — the compression half of
an IVF-PQ ANN index (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; the layout FAISS builds at
billion-vector scale).

The engine already ships the other ANN members — brute-force cosine
top-k, hyperplane-LSH buckets, IVF-Flat with a recall-floor contract
(operators/similarity.py) and int8 scalar quantization
(q:embedding_quantize_int8).  PQ is the missing piece that makes
100 TB of embeddings searchable in RAM: a dim=64 float vector (256
bytes) becomes m=4 uint8 codes (4 bytes, 64×), and asymmetric
distances against the m×k codebook approximate the true distance.
The reference has no vector surface at all (it is a pandas scraping
pipeline); this is part of the beyond-reference training-data
mandate.

ENGINE-PORTABLE by the kmeans_lloyd_portable recipe
(operators/cluster.py — integer lanes, md5 seed order, integer
argmin with lowest-idx ties, floor-division centroid means), so a
DuckDB oracle replays training AND encoding bit-for-bit.

Spark-first shape — the subspace loop is a DATA dimension, not a
driver loop: all m sub-quantizers train in the SAME ``iters``
distributed passes.

1. one hygiene+quantize pass pins (id, int64-lane vector), exactly
   like the gated Lloyd (localCheckpoint here; persist
   MEMORY_AND_DISK on a cluster);
2. per iteration, ONE job computes every subspace's assignment (a
   vectorized numpy batch kernel, ``_np_pq_udf`` — exact int64,
   first-min ties; it replaced m×k interpreted
   ``aggregate(zip_with(slice(...)))`` lambdas per row) and ONE
   shuffle aggregates lane sums grouped by (subspace, cluster, lane)
   — ``pos div sub`` recovers the subspace from the exploded lane
   index, so m never multiplies the pass count;
3. driver traffic per iteration is the k·dim lane-sum matrix (the
   same bound as one full-space Lloyd — the m codebooks partition
   the lanes, they don't add any);
4. encoding is one final kernel pass: the m argmin labels as an
   ``array<int>`` plus the exact integer reconstruction error
   (sum of per-subspace min squared distances) — the quantization-
   quality number an index builder monitors.

``pq_portable_oracle`` mechanically generates the DuckDB replay from
the same parameters — one (dist, assign, cent) CTE block per
iteration with ``(i-1)//sub`` as the subspace key, the same
generated-iterative-oracle technique as queries/llm_ann.py
:_lloyd_portable_oracle.  tests/test_pq.py pins Spark == DuckDB on
fixed, randomized, and sf0.001 inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_SCALE_SQL = "1000000.0"


def pq_train_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Train m sub-codebooks (k centroids each, ``iters`` Lloyd
    rounds) and encode: returns ``id_col, codes array<int>,
    recon_err bigint`` (exact integer squared reconstruction error
    on the 1e-6 fixed-point grid).

    Vector hygiene matches the gated Lloyd: NULL vectors, vectors
    with a NULL lane, and vectors whose length differs from ``dim``
    are dropped (the oracle mirrors the filters).  ``dim`` defaults
    to the md5-smallest clean vector's length and must be divisible
    by ``m``."""
    if m < 1 or k < 1 or iters < 0:
        raise ValueError(f"bad PQ params m={m} k={k} iters={iters}")
    clean = F.col(vec_col).isNotNull() & ~F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    id_type = df.schema[id_col].dataType.simpleString()
    empty_schema = f"{id_col} {id_type}, codes array<int>, recon_err bigint"
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
        if not probe:
            return df.sparkSession.createDataFrame([], empty_schema)
        dim = int(probe[0]["_d"])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    clean = clean & (F.size(F.col(vec_col)) == dim)
    qdf = (
        df.where(clean)
        .select(
            F.col(id_col),
            F.expr(
                f"transform(cast({vec_col} as array<double>),"
                f" x -> cast(floor(x * {_SCALE_SQL} + 0.5) as bigint))"
            ).alias("_q"),
        )
        .localCheckpoint(eager=True)
    )
    cents = _fit(qdf, id_col, m, k, iters, sub)
    if cents is None:
        return df.sparkSession.createDataFrame([], empty_schema)

    # one vectorized batch pass (see _np_pq_udf): codes are the m
    # argmin labels, recon_err the exact integer sum of the m min
    # squared distances — identical values to the expression form
    recon = " + ".join(f"element_at(_s.mind, {sp + 1})" for sp in range(m))
    u = _np_pq_udf(cents, m, sub)
    return qdf.select(F.col(id_col), u(F.col("_q")).alias("_s")).select(
        F.col(id_col),
        F.col("_s.codes").cast("array<int>").alias("codes"),
        F.expr(recon).cast("bigint").alias("recon_err"),
    )


def _np_pq_udf(
    cents: dict[int, list[tuple[int, list[int]]]],
    m: int,
    sub: int,
    adc_tbls: list[list[int]] | None = None,
):
    """Arrow batch kernel computing every subspace's PQ code and min
    squared distance in one crossing, with ``vecbatch.argmin_l2`` per
    subspace: exact int64, first-minimum ties, so a tie goes to the
    lowest SURVIVING cluster idx of ``cents[sp]`` exactly as the
    DuckDB oracles rank it.  It replaces m×k interpreted
    ``aggregate(zip_with(slice(...)))`` lambdas per row.  With
    ``adc_tbls`` (one table per subspace, ordered like ``cents[sp]``)
    the struct adds the summed asymmetric distance, looked up at the
    argmin.

    Returns ``struct<codes array<int>, mind array<bigint>[, adc
    bigint]>``; rows that are NULL, have a NULL lane or are not m·sub
    long yield a NULL struct."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from .vecbatch import argmin_l2, as_matrix, expand, skip_unchanged_zip_rereads

    labels = [
        np.asarray([i for i, _ in cents[sp]], dtype="int32")
        for sp in range(m)
    ]
    cmats = [
        np.asarray([lanes for _, lanes in cents[sp]], dtype="int64")
        for sp in range(m)
    ]
    tbls = (
        [np.asarray(t, dtype="int64") for t in adc_tbls]
        if adc_tbls is not None
        else None
    )
    fields = "codes: array<int>, mind: array<bigint>"
    if tbls is not None:
        fields += ", adc: bigint"

    def fn(v):
        skip_unchanged_zip_rereads()
        ok, M = as_matrix(v, m * sub, "int64")
        n = M.shape[0]
        codes = np.empty((n, m), dtype="int32")
        mind = np.empty((n, m), dtype="int64")
        adc = np.zeros(n, dtype="int64")
        for sp in range(m):
            idx, dist = argmin_l2(M[:, sp * sub : (sp + 1) * sub], cmats[sp])
            codes[:, sp] = labels[sp][idx]
            mind[:, sp] = dist
            if tbls is not None:
                adc += tbls[sp][idx]
        offsets = pa.array(np.arange(0, n * m + 1, m, dtype="int32"))
        cols = [
            pa.ListArray.from_arrays(offsets, pa.array(codes.ravel())),
            pa.ListArray.from_arrays(offsets, pa.array(mind.ravel())),
        ]
        names = ["codes", "mind"]
        if tbls is not None:
            cols.append(pa.array(adc))
            names.append("adc")
        return expand(ok, pa.StructArray.from_arrays(cols, names=names))

    return arrow_udf(fn, f"struct<{fields}>")


def _fit(
    qdf: DataFrame, id_col: str, m: int, k: int, iters: int, sub: int
) -> dict[int, list[tuple[int, list[int]]]] | None:
    """The shared training loop over a prepped (id, _q) frame;
    returns the per-subspace codebooks (None on empty input)."""
    seed_rows = (
        qdf.select("_q", F.md5(F.col(id_col).cast("string")).alias("_m"))
        .orderBy("_m")
        .limit(k)
        .collect()
    )
    if not seed_rows:
        return None
    # per-subspace centroid sets: {sp: [(cluster_idx, sub lanes)]}
    cents: dict[int, list[tuple[int, list[int]]]] = {
        sp: [
            (i, list(r["_q"])[sp * sub : (sp + 1) * sub])
            for i, r in enumerate(seed_rows)
        ]
        for sp in range(m)
    }

    for _ in range(iters):
        # one job: every subspace's argmin labels (vectorized numpy
        # batch kernel, see _np_pq_udf) + exploded lanes; one
        # shuffle: (subspace, cluster, lane) partial sums.  The
        # kernel MUST run in its own projection BELOW the explode —
        # a generator and a UDF in one select evaluate the UDF per
        # OUTPUT row (dim× per vector; measured 2.4× slower than the
        # HOF form it replaces), while the split keeps ArrowEvalPython
        # under the Generate: once per vector, labels pass through.
        u = _np_pq_udf(cents, m, sub)
        staged = qdf.select(
            u(F.col("_q")).getField("codes").alias("_labs"), "_q"
        )
        sums = (
            staged.select(
                "_labs",
                F.posexplode("_q").alias("pos", "x"),
            )
            .select(
                F.expr(f"cast(pos div {sub} as int)").alias("sp"),
                F.expr(
                    f"element_at(_labs, cast(pos div {sub} as int) + 1)"
                ).alias("cl"),
                "pos",
                "x",
            )
            .groupBy("sp", "cl", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()  # bounded: k * dim rows across all subspaces
        )
        by_sp: dict[int, dict[int, list[int]]] = {}
        for r in sums:
            lanes = by_sp.setdefault(int(r["sp"]), {}).setdefault(
                int(r["cl"]), [0] * sub
            )
            # local lane index; Python // floors like the SQL identity
            lanes[int(r["pos"]) - int(r["sp"]) * sub] = int(r["s"]) // int(
                r["n"]
            )
        cents = {
            sp: sorted(by_sp.get(sp, {}).items()) for sp in range(m)
        }
        if any(not cents[sp] for sp in range(m)):  # pragma: no cover
            raise RuntimeError("every subspace lost all clusters")
    return cents


def _oracle_ctes(
    m: int,
    k: int,
    iters: int,
    dim: int,
    table: str,
    vec_col: str,
    id_col: str,
) -> str:
    """Shared DuckDB CTE chain (clean .. final_assign) replaying the
    training loop — used by both oracles."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    blocks = [
        f"""
WITH clean AS (
    SELECT {id_col} AS vid, {vec_col} AS v FROM {table}
    WHERE {vec_col} IS NOT NULL
      AND len({vec_col}) = {dim}
      AND len(list_filter({vec_col}, x -> x IS NULL)) = 0
),
vec_lanes AS (
    SELECT e.vid, d.i, (d.i - 1) // {sub} AS sp,
           CAST(floor(CAST(e.v[d.i] AS DOUBLE) * {_SCALE_SQL} + 0.5)
                AS BIGINT) AS q
    FROM clean e, (SELECT unnest(generate_series(1, {dim})) AS i) d
),
cent_0 AS (
    SELECT s.cluster_idx, v.i, v.sp, v.q AS c
    FROM (SELECT vid,
                 ROW_NUMBER() OVER (ORDER BY md5(CAST(vid AS VARCHAR))) - 1
                     AS cluster_idx
          FROM clean
          ORDER BY md5(CAST(vid AS VARCHAR)) LIMIT {k}) s
    JOIN vec_lanes v ON v.vid = s.vid
)"""
    ]
    for t in range(iters):
        blocks.append(
            f""",
dist_{t} AS (
    SELECT v.vid, v.sp, c.cluster_idx,
           SUM((v.q - c.c) * (v.q - c.c)) AS d2
    FROM vec_lanes v JOIN cent_{t} c ON c.i = v.i
    GROUP BY v.vid, v.sp, c.cluster_idx
),
assign_{t} AS (
    SELECT vid, sp, cluster_idx FROM (
        SELECT vid, sp, cluster_idx,
               ROW_NUMBER() OVER (PARTITION BY vid, sp
                                  ORDER BY d2 ASC, cluster_idx ASC) AS r
        FROM dist_{t}) WHERE r = 1
),
cent_{t + 1} AS (
    SELECT a.cluster_idx, v.i, v.sp,
           CAST((SUM(v.q) - ((SUM(v.q) % COUNT(*)) + COUNT(*)) % COUNT(*))
                / COUNT(*) AS BIGINT) AS c
    FROM assign_{t} a
    JOIN vec_lanes v ON v.vid = a.vid AND v.sp = a.sp
    GROUP BY a.cluster_idx, v.i, v.sp
)"""
        )
    blocks.append(
        f""",
dist_{iters} AS (
    SELECT v.vid, v.sp, c.cluster_idx,
           SUM((v.q - c.c) * (v.q - c.c)) AS d2
    FROM vec_lanes v JOIN cent_{iters} c ON c.i = v.i
    GROUP BY v.vid, v.sp, c.cluster_idx
),
final_assign AS (
    SELECT vid, sp, cluster_idx, d2 FROM (
        SELECT vid, sp, cluster_idx, d2,
               ROW_NUMBER() OVER (PARTITION BY vid, sp
                                  ORDER BY d2 ASC, cluster_idx ASC) AS r
        FROM dist_{iters}) WHERE r = 1
)"""
    )
    return "".join(blocks)


def pq_portable_oracle(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`pq_train_encode` — the gated-Lloyd CTE chain with
    ``(i-1)//{sub}`` as the subspace key, one (dist, assign, cent)
    block per iteration, then the code-list + reconstruction-error
    select.  Output: ``id, codes, recon_err``."""
    ctes = _oracle_ctes(m, k, iters, dim, table, vec_col, id_col)
    return (
        f"{ctes}\n"
        f"SELECT vid AS {id_col},\n"
        "       list(CAST(cluster_idx AS INTEGER) ORDER BY sp) AS codes,\n"
        "       CAST(SUM(d2) AS BIGINT) AS recon_err\n"
        "FROM final_assign\n"
        "GROUP BY vid"
    )


def quantize_query(query: list[float]) -> list[int]:
    """The shared 1e-6 fixed-point quantization of a query vector —
    computed ONCE driver-side and injected into both engines, so the
    ADC gate cannot hinge on a float rounding difference."""
    import math

    if any(x is None for x in query):
        raise ValueError("query vector has a NULL lane")
    return [int(math.floor(float(x) * 1e6 + 0.5)) for x in query]


def pq_adc_topk(
    df: DataFrame,
    query: list[float],
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Asymmetric-distance top-k: train the PQ codebooks, encode the
    corpus, and rank it against ``query`` by the ADC approximation —
    the query-time half of an IVF-PQ index (Jégou et al. 2011 §IV:
    the query stays unquantized; each subspace contributes the exact
    distance from the query's sub-vector to the ASSIGNED centroid).
    Returns the ``topk`` rows of ``id_col, codes array<int>,
    adc_dist bigint`` ordered by (adc_dist ASC, id ASC).

    The scan is one vectorized kernel pass (``_np_pq_udf``): the m
    ADC lookup tables are k integers each, computed driver-side from
    the trained codebooks and the quantized query (exact integer
    arithmetic shared with the oracle), applied inside the kernel at
    the same argmin that picks the code — then a TakeOrdered top-k,
    never a full sort.  At 100 TB this is the RAM-resident
    re-rank stage: 4 bytes/vector of codes + a 32-entry table beat
    re-reading 256-byte float vectors by two orders of magnitude of
    memory bandwidth."""
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    dim = len(query)
    if dim % m != 0:
        raise ValueError(f"len(query)={dim} not divisible by m={m}")
    sub = dim // m
    qlanes = quantize_query(query)
    clean = (
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & (F.size(F.col(vec_col)) == dim)
    )
    id_type = df.schema[id_col].dataType.simpleString()
    qdf = (
        df.where(clean)
        .select(
            F.col(id_col),
            F.expr(
                f"transform(cast({vec_col} as array<double>),"
                f" x -> cast(floor(x * {_SCALE_SQL} + 0.5) as bigint))"
            ).alias("_q"),
        )
        .localCheckpoint(eager=True)
    )
    cents = _fit(qdf, id_col, m, k, iters, sub)
    if cents is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, codes array<int>, adc_dist bigint"
        )

    # per-subspace ADC lookup tables, ordered exactly like cents[sp]
    # (exact integer arithmetic shared with the oracle); the kernel
    # applies them at the argmin — same element_at-by-position lookup
    adc_tbls = [
        [
            sum(
                (a - b) * (a - b)
                for a, b in zip(qlanes[sp * sub : (sp + 1) * sub], lanes)
            )
            for _, lanes in cents[sp]
        ]
        for sp in range(m)
    ]
    u = _np_pq_udf(cents, m, sub, adc_tbls=adc_tbls)
    return (
        qdf.select(F.col(id_col), u(F.col("_q")).alias("_s"))
        .select(
            F.col(id_col),
            F.col("_s.codes").cast("array<int>").alias("codes"),
            F.col("_s.adc").cast("bigint").alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )


def pq_adc_topk_oracle(
    query: list[float],
    topk: int = 10,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`pq_adc_topk` — the shared training CTEs, the quantized
    query as a VALUES lane table (the SAME integers the Spark side
    embeds), ADC per (subspace, centroid) from cent_{iters}, and the
    (adc ASC, id ASC) top-k."""
    dim = len(query)
    if dim % m != 0:
        raise ValueError(f"len(query)={dim} not divisible by m={m}")
    sub = dim // m
    qlanes = quantize_query(query)
    ctes = _oracle_ctes(m, k, iters, dim, table, vec_col, id_col)
    vals = ", ".join(f"({i + 1}, {q})" for i, q in enumerate(qlanes))
    return f"""{ctes},
qlanes AS (
    SELECT i, (i - 1) // {sub} AS sp, CAST(q AS BIGINT) AS q
    FROM (VALUES {vals}) t(i, q)
),
adc AS (
    SELECT c.sp, c.cluster_idx, SUM((l.q - c.c) * (l.q - c.c)) AS d2
    FROM cent_{iters} c JOIN qlanes l ON l.i = c.i
    GROUP BY c.sp, c.cluster_idx
),
ranked AS (
    SELECT a.vid,
           list(CAST(a.cluster_idx AS INTEGER) ORDER BY a.sp) AS codes,
           CAST(SUM(t.d2) AS BIGINT) AS adc_dist
    FROM final_assign a
    JOIN adc t ON t.sp = a.sp AND t.cluster_idx = a.cluster_idx
    GROUP BY a.vid
)
SELECT vid AS {id_col}, codes, adc_dist
FROM ranked
ORDER BY adc_dist ASC, vid ASC
LIMIT {int(topk)}"""
