"""Embedding similarity search.

Brute-force cosine top-k is the correctness baseline; the scale
paths are an IVF coarse quantizer (inverted lists probed per query),
hyperplane-LSH buckets and cluster-capped semantic dedup.

Compute placement: a single-query dot product runs as a built-in
array expression (JVM-side, cheap in absolute terms); batch work
(IVF assignment, the pairs inside one capped cluster) runs as numpy
kernels over Arrow batches (operators/vecbatch.py), so the flops
happen in dense matmuls instead of per-pair rows.

At 100 TB: the query vector (or a small query *set*) broadcasts; the
corpus never shuffles for brute force (map-side score + top-k via
partial sort).  LSH and semantic dedup shuffle once on the bucket or
cluster key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.sql_literals import sql_int_array


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double),"
            f" (acc, x) -> acc + cast(x as double) * cast(x as double))"
        )
    )


def cosine_expr(a: str, b: str):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine against one literal query vector.  The query
    is a literal in the plan (broadcast by construction); scoring is
    a map-side projection; the only ordering work is a global top-k
    (TakeOrderedAndProject), not a full sort."""
    # ONE parsed literal (functions/sql_literals — the py4j lesson):
    # per-element F.lit() cost ~dim x 0.5 ms of driver time per build;
    # repr() round-trips each component to the identical IEEE double.
    from ..functions.sql_literals import sql_double_array

    qlit = F.expr(sql_double_array(float(x) for x in query_vec))
    scored = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
    ).withColumn("_q", qlit)
    scored = scored.select(
        id_col,
        cosine_expr("_v", "_q").alias("cosine"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject: each partition
    # keeps its local top-k, the driver merges k*partitions rows — no
    # global sort, no single-partition window over the corpus.  The
    # rank window then runs over just k rows.
    topk = scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc(id_col))
    return topk.withColumn("sim_rank", F.row_number().over(w)).select(
        "sim_rank", id_col
    )


def _ivf_assign_udf(cent):
    """Arrow batch kernel: per vector, the row index of ``cent`` with
    the largest cosine (one float64 matmul per batch, first maximum
    on ties).  Rows that are NULL, have a NULL lane or are not
    ``cent``'s width label NULL."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from .vecbatch import as_matrix, expand, skip_unchanged_zip_rereads

    unit = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    def fn(v):
        skip_unchanged_zip_rereads()
        ok, m = as_matrix(v, unit.shape[1], "float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return expand(ok, pa.array(np.argmax(m @ unit.T, axis=1).astype("int32")))

    return arrow_udf(fn, "int")


def build_ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: deterministic seed pick + k-means
    refinement, then assign every vector to its nearest centroid
    (the "inverted list" id).

    Returns ``(centroids, assigned)`` where ``centroids`` is a list of
    ``(centroid_id, numpy_vector)`` (small — O(K·d), lives with the
    plan like any literal) and ``assigned`` is the corpus DataFrame
    plus a ``cluster_id`` column.

    Determinism / scale notes:
    - Seeds are the ``n_centroids`` vectors with the smallest
      ``xxhash64(id)`` — a reproducible pseudo-random sample
      (TakeOrdered, no global sort), so replays and resumes are
      stable across cluster sizes.
    - Each k-means iteration is one map-side assignment (centroid
      matrix is a closure constant → broadcast by construction,
      argmax is a numpy matmul per Arrow batch) + one groupBy mean
      over exploded components: shuffle rows = n·d scalars, the same
      shape MinHash signatures use, all partial-aggregated map-side.
    - At 100 TB you refine on a hash-sample (filter
      ``pmod(xxhash64(id), m) = 0``) and assign the full corpus once;
      assignment itself never shuffles.
    """
    import statistics

    import numpy as np

    # NULL-vector hygiene: a NULL embedding among the xxhash64-ranked
    # seeds would fail np.asarray driver-side
    base = emb.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    seeds = (
        base.select("_v", F.xxhash64("_id").alias("_h"))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    # the seeds' most common length fixes the index width; a vector of
    # any other length gets a NULL cluster_id and is never probed
    dim = statistics.mode(len(r["_v"]) for r in seeds)
    cent = np.asarray(
        [r["_v"] for r in seeds if len(r["_v"]) == dim], dtype="float64"
    )
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    for _ in range(refine_iters):
        assigned = base.withColumn(
            "cluster_id", _ivf_assign_udf(cent)(F.col("_v"))
        )
        means = (
            assigned.select(
                "cluster_id", F.posexplode("_v").alias("_i", "_x")
            )
            .groupBy("cluster_id", "_i")
            .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
            .collect()
        )
        new_cent = cent.copy()
        by_cluster: dict[int, list] = {}
        for r in means:
            # an unlabeled row must not reach new_cent[None], which
            # numpy would broadcast over every centroid
            if r["cluster_id"] is not None:
                by_cluster.setdefault(r["cluster_id"], []).append(
                    (r["_i"], r["_m"])
                )
        for cid, comps in by_cluster.items():
            vec = np.zeros(cent.shape[1])
            for i, m in comps:
                vec[i] = m
            n = np.linalg.norm(vec)
            if n > 0:
                new_cent[cid] = vec / n
        cent = new_cent

    assigned = emb.where(F.col(vec_col).isNotNull()).withColumn(
        "cluster_id", _ivf_assign_udf(cent)(F.col(vec_col))
    )
    return [(i, cent[i]) for i in range(len(cent))], assigned


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat approximate top-k: probe the ``n_probe`` inverted
    lists whose centroids are nearest the query, brute-force only
    inside them.  Scanned fraction ~ n_probe/n_centroids of the
    corpus; recall depends on how well the quantizer separates the
    query's true neighbors (n_probe = n_centroids degrades to exact).

    The cluster filter arrives as an ``isin`` literal predicate —
    Catalyst pushes it into the scan of a materialized (partitioned)
    index, so at rest the unprobed lists are never read."""
    import numpy as np

    cents, assigned = build_ivf_index(
        emb, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    q = np.asarray(query_vec, dtype="float64")
    q /= np.linalg.norm(q)
    order = np.argsort([-float(np.dot(q, c)) for _, c in cents])
    probe = [int(cents[i][0]) for i in order[:n_probe]]
    cands = assigned.filter(F.col("cluster_id").isin(probe)).drop("cluster_id")
    return brute_force_topk(
        cands, [float(x) for x in query_vec], k=k, id_col=id_col, vec_col=vec_col
    )


def lsh_portable_pairs(
    emb: DataFrame,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """ENGINE-PORTABLE hyperplane LSH: candidate pairs are vectors
    that share a sign-signature bucket in any of ``n_tables`` banding
    tables, verified by exact cosine.  Every piece of the signature
    is bit-reproducible across engines so a DuckDB oracle can replay
    it for a full value-hash gate:

    - plane signs come from md5 of the STRING ``"{component}_{seed}"``
      (seed = table*n_planes+plane) — parity of a 60-bit md5-hex
      prefix, not Spark-private xxhash64;
    - projections are INTEGER-LANE: each component is scaled
      ``floor(x*1e6+0.5)`` to an int64 before the ±1 sum, so the
      bucket decision (``proj > 0``) is exact integer arithmetic with
      no summation-order sensitivity (the float-sum variant can flip
      a sign on a projection within an ulp of zero);
    - the verify is the exact cosine at ``threshold``.

    ``max_bucket`` is the PORTABLE hot-bucket cap: within each
    (table, bucket) posting list only the ``max_bucket`` vectors with
    the smallest md5(id) survive — a deterministic, engine-replayable
    truncation, so the oracle stays hash-exact while the candidate
    count is bounded by tables x buckets x max_bucket^2 instead of
    sum-of-m^2 (the uncapped 4-bit config is quadratic within bucket:
    131 s at sf1).  At
    gate scale (sf0.01) typical posting lists sit under the cap, so
    the capped output is identical to the exact-replay one."""
    import hashlib

    comps = emb.select(
        F.col(id_col).alias("doc_id"), F.posexplode_outer(vec_col).alias("_i", "_x")
    ).select(
        "doc_id",
        "_i",
        F.floor(F.col("_x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("_q"),
    )

    def sign_value(i: int, seed: int) -> int:
        # the signature DEFINITION: parity of the 60-bit md5-hex
        # prefix of "{component}_{seed}".  Signs depend only on
        # (i, seed), so they constant-fold here via hashlib (the
        # same md5 the oracle computes in SQL) instead of running
        # an md5 + hex-parse per (row, lane) on the cluster — that
        # per-row variant measured 64 md5s/component-row, minutes
        # at ~sf1; this one is a 64-int literal lookup per lane.
        h = int(hashlib.md5(f"{i}_{seed}".encode()).hexdigest()[:15], 16)
        return 1 if h & 1 else -1

    # dimension probe: first NON-NULL vector (a NULL first row would
    # TypeError at build time; NULL vectors are quarantined by the
    # posexplode_outer path like everywhere else in the pipeline)
    first = emb.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:  # empty input: the correct output is no pairs
        return emb.sparkSession.createDataFrame(
            [], f"id1 {emb.schema[id_col].dataType.simpleString()},"
                f" id2 {emb.schema[id_col].dataType.simpleString()}"
        )
    dim = len(first[0])

    def sign_arr(seed: int) -> str:
        # ONE parsed SQL literal per seed, not dim F.lit() py4j round
        # trips — n_tables*n_planes*dim lit() calls (4096 at the
        # gating config) cost ~2 s of driver time per build and made
        # the query FLAT across 10x data (fixed-cost-bound); a parsed
        # array literal is ~ms (the bloom lesson, SCALE.md r5)
        return sql_int_array(sign_value(i, seed) for i in range(dim))

    proj_aggs = [
        F.expr(
            f"sum(_q * element_at({sign_arr(t * n_planes + p)},"
            " cast(_i + 1 as int)))"
        ).alias(f"_s_{t}_{p}")
        for t in range(n_tables)
        for p in range(n_planes)
    ]
    projs = comps.groupBy("doc_id").agg(*proj_aggs)
    bucket_exprs = [
        sum(
            (F.when(F.col(f"_s_{t}_{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0)))
            for p in range(n_planes)
        ).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    buckets = projs.select("doc_id", *bucket_exprs)
    sigs = buckets.select(
        "doc_id",
        F.posexplode_outer(F.array(*[f"_b{t}" for t in range(n_tables)])).alias(
            "table_idx", "bucket"
        ),
    )
    # candidate pairs via SELF-JOIN on the bucket key (4-bit buckets
    # have only 16 values per table — hot by construction, so a
    # per-bucket pair array would materialize O(m²) structs in one
    # row; the join streams them and AQE splits skewed keys).  The
    # signature table is one tiny row per vector — cache it (bounded:
    # one live copy per call site) so the projection pipeline runs
    # once, not once per join branch.
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("table_idx", "bucket").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
        sigs = (
            sigs.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
    from .dedup import cache_bounded

    sigs = cache_bounded("lsh_portable_sigs", sigs)
    cands = (
        sigs.select("table_idx", "bucket", F.col("doc_id").alias("id1"))
        .join(
            sigs.select("table_idx", "bucket", F.col("doc_id").alias("id2")),
            ["table_idx", "bucket"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # Verify: norms are per-VECTOR values, so compute each side's
    # norm once in the join projection instead of twice per candidate
    # pair (a vector in m postings pays the interpreted 64-element
    # aggregate once, not m times).  Bit-identical to cosine_expr:
    # the same _norm tree evaluates over the same array, and the
    # division keeps the dot/(n1*n2) association.
    e1 = emb.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("_v1"),
        _norm(vec_col).alias("_n1"),
    )
    e2 = emb.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("_v2"),
        _norm(vec_col).alias("_n2"),
    )
    return (
        cands.join(e1, "id1")
        .join(e2, "id2")
        .filter(
            _dot("_v1", "_v2") / (F.col("_n1") * F.col("_n2")) >= threshold
        )
        .select("id1", "id2")
    )


def _dup_pairs_fn(id_col: str, dim: int, num: int, den: int):
    """``applyInArrow`` kernel over one capped cluster ``(id_col, _m,
    _q, _n2, cluster_idx)``: every member whose cosine with a member
    ranked before it by ``(_m, id)`` clears ``sqrt(num/den)``
    (``vecbatch.cosine_hits``), as ``(id, cluster_idx, dup_of)`` with
    ``dup_of`` its first such partner.  Rows with a NULL ``_m`` (a
    NULL id: every comparison with it is false) and rows whose vector
    is NULL, has a NULL lane or is not ``dim`` long never pair."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .vecbatch import as_matrix, cosine_hits, skip_unchanged_zip_rereads

    def fn(tbl):
        skip_unchanged_zip_rereads()
        # (md5, id) ascending = the a-before-b orientation AND the
        # keeper rank in one order; the sort is stable
        tbl = tbl.filter(pc.is_valid(tbl["_m"])).sort_by(
            [("_m", "ascending"), (id_col, "ascending")]
        )
        ok, q = as_matrix(tbl["_q"], dim, "int64")
        tbl = tbl.filter(pa.array(ok))
        n2 = tbl["_n2"].to_numpy()
        hit = cosine_hits(q @ q.T, n2, n2, num, den)
        # strict upper triangle: row i is the lower-ranked partner
        hit &= np.tri(len(q), len(q), -1, dtype=bool).T
        # column-major nonzero: each j's partners in ascending rank
        j, i = np.nonzero(hit.T)
        js, first = np.unique(j, return_index=True)
        ids = tbl[id_col]
        return pa.table(
            {
                id_col: ids.take(js),
                "cluster_idx": tbl["cluster_idx"].take(js),
                "dup_of": ids.take(i[first]),
            }
        )

    return fn


def semantic_dedup_portable(
    emb: DataFrame,
    k: int = 8,
    threshold_num: int = 81,
    threshold_den: int = 100,
    scale: int = 1000,
    max_cluster: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ENGINE-PORTABLE SemDeDup-style semantic deduplication
    (Abbas et al. 2023, "SemDeDup", arXiv:2303.09540 — public
    method): coarse-cluster the embedding space, then drop any
    vector whose cosine similarity to a lower-ranked member of the
    SAME cluster clears a threshold — the standard way a training
    pipeline removes semantically redundant documents that no
    lexical dedup (MinHash/SimHash) can see.

    Every step is exact integer arithmetic a DuckDB oracle replays
    bit-for-bit:

    - lanes quantized ``floor(x*scale+0.5)`` to int64 (scale=1e3
      here, NOT the usual 1e6: the dup test squares a squared sum,
      so int64 safety needs ``den * dot^2 < 2^63`` — at dim 64,
      den 100, scale 1e3 that holds for |x| <= 2, ample for
      unit-ish embeddings; 1e6 lanes would overflow);
    - cluster seeds are the ``k`` vectors with the smallest
      (md5(id), id) — portable ordering, no RNG;
    - assignment = argmin of the exact integer squared L2 distance,
      ties to the lowest cluster idx (same rule as the hash-green
      Lloyd loop);
    - the cosine test ``cos(a,b) >= sqrt(num/den)`` is evaluated
      sqrt-free: ``dot > 0 AND den*dot^2 >= num*|a|^2*|b|^2`` in
      int64 (defaults num=81 den=100 -> cosine 0.9);
    - ``max_cluster`` caps each cluster at the ``max_cluster``
      members with the smallest (md5(id), id) before pairing — the
      oracle-replayable truncation that keeps candidate pairs
      bounded by k * max_cluster^2 instead of sum-of-cluster^2.

    Returns the REMOVED rows: ``(vec_id, cluster_idx, dup_of)``
    where ``dup_of`` is the kept duplicate with the smallest
    (md5, id) rank — ints only, hash-friendly.

    Scale shape (100 TB): assignment is one vectorized batch-kernel
    pass (O(n*k*dim) — cluster.py ``_np_assign_udf``) with the seed
    matrix riding the UDF closure, not the parsed plan text, so
    raising ``k`` to the production ~n/cluster_target leaves the plan
    constant-size; the pair stage is one shuffle on cluster_idx with
    capped fan-in; nothing but the k seed vectors reaches the
    driver.  Complements lexical MinHash (q:minhash_lsh_pairs)
    and hyperplane LSH (q:embedding_lsh_portable_pairs); the
    reference has no embedding surface at all (beyond-reference
    mandate, BASELINE.json north star)."""
    from pyspark.sql import Window

    clean = F.col(vec_col).isNotNull() & ~F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    q_expr = F.expr(
        f"transform(cast({vec_col} as array<double>),"
        f" x -> cast(floor(x * {float(scale)!r} + 0.5) as bigint))"
    )
    if dim is None:
        probe = (
            emb.where(clean)
            .select(
                F.size(F.col(vec_col)).alias("_d"),
                F.md5(F.col(id_col).cast("string")).alias("_m"),
            )
            .orderBy("_m", "_d")
            .limit(1)
            .collect()
        )
        if not probe:
            return emb.sparkSession.createDataFrame(
                [],
                f"{id_col} {emb.schema[id_col].dataType.simpleString()},"
                " cluster_idx int,"
                f" dup_of {emb.schema[id_col].dataType.simpleString()}",
            )
        dim = int(probe[0]["_d"])
    clean = clean & (F.size(F.col(vec_col)) == dim)
    qdf = (
        emb.where(clean)
        .select(
            F.col(id_col),
            F.md5(F.col(id_col).cast("string")).alias("_m"),
            q_expr.alias("_q"),
        )
        .withColumn(
            "_n2",
            F.expr("aggregate(transform(_q, x -> x*x), 0L, (a, x) -> a + x)"),
        )
    )
    # seed selection in two cheap jobs instead of one expensive one:
    # the ordering (md5, id) never looks at the vector, but a single
    # TakeOrdered over qdf evaluates the 64-lane quantize transform
    # for EVERY row below the sort (plan-verified; 1.25 s at sf0.1).
    # Job 1 ranks ids by (md5, id) alone; job 2 re-reads just those
    # rows (isin pushdown) and quantizes k vectors.  Quantization
    # stays the same Spark expression — no cross-language float
    # replay — and ordering semantics are unchanged.
    seed_ids = [
        r[0]
        for r in emb.where(clean)
        .select(
            F.col(id_col), F.md5(F.col(id_col).cast("string")).alias("_m")
        )
        .orderBy("_m", id_col)
        .limit(k)
        .select(id_col)
        .collect()
    ]
    seed_pred = F.col(id_col).isin(
        [i for i in seed_ids if i is not None]
    )
    if any(i is None for i in seed_ids):
        # a NULL id ranks first under NULLS FIRST md5 ordering but
        # never matches isin — keep it reachable for job 2
        seed_pred = seed_pred | F.col(id_col).isNull()
    seed_rows = (
        qdf.filter(seed_pred)
        .orderBy("_m", id_col)
        .limit(k)
        .select("_q")
        .collect()
        if seed_ids
        else []
    )
    if not seed_rows:
        return emb.sparkSession.createDataFrame(
            [],
            f"{id_col} {emb.schema[id_col].dataType.simpleString()},"
            " cluster_idx int,"
            f" dup_of {emb.schema[id_col].dataType.simpleString()}",
        )
    # exact int64 argmin against the seed set, ties to the lowest idx
    # (see _np_assign_udf).  The seed matrix rides the UDF closure, so
    # the parsed plan stays constant-size at the production
    # k ≈ n/cluster_target.
    from .cluster import _np_assign_udf

    u = _np_assign_udf(
        [(i, list(r["_q"])) for i, r in enumerate(seed_rows)],
        int_lanes=True,
    )
    assigned = qdf.select(
        F.col(id_col), "_m", "_q", "_n2",
        u(F.col("_q")).alias("cluster_idx"),
    )
    w = Window.partitionBy("cluster_idx").orderBy("_m", id_col)
    capped = (
        assigned.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_cluster)
        .drop("_r")
    )
    # Each capped cluster is a bounded ≤ max_cluster × dim int64
    # block, so ONE grouped Arrow kernel per cluster computes every
    # dot as a numpy int64 matmul (interpreted per-pair zip_with
    # lambdas never enter codegen).  The window cap upstream already
    # hash-partitions by cluster_idx, so the grouped map adds no
    # exchange.
    idt = emb.schema[id_col].dataType.simpleString()
    return capped.groupBy("cluster_idx").applyInArrow(
        _dup_pairs_fn(id_col, dim, int(threshold_num), int(threshold_den)),
        schema=f"{id_col} {idt}, cluster_idx int, dup_of {idt}",
    )
