"""Physical-plan audits called on the operators directly — the same
discipline tests/test_plans.py applies to registered queries: the
plan must be the one that survives 100× scale.

All hot paths must stay JVM-side (no Python eval nodes), nothing may
cartesian, the substring gram count must partial-aggregate map-side,
the BPE vocabulary join must broadcast, and the exact split's two
windows must share one strata exchange."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")


def test_substring_spans_mapside_combine_no_cartesian(spark):
    from survivor_processing_spark.operators.substring import (
        substring_dedup_spans,
    )

    plan = _plan(substring_dedup_spans(_docs(spark), n=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan
    # the gram count partial-aggregates before its exchange
    assert "partial_count" in plan


def test_substring_clean_stays_jvm_side(spark):
    from survivor_processing_spark.operators.substring import (
        substring_dedup_clean,
    )

    plan = _plan(substring_dedup_clean(_docs(spark), n=6))
    for node in PY_NODES:
        assert node not in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_vocab_join_is_broadcast(spark):
    from survivor_processing_spark.operators.bpe import bpe_encode_counts

    df = bpe_encode_counts(
        _docs(spark), [("t", "h"), ("th", "e")], text_col="text"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    for node in PY_NODES:
        assert node not in plan
    # the corpus side is never sort-merge-joined against the vocab
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_pq_encode_vectorized_no_cartesian(spark):
    """r14: the per-subspace argmin moved from m×k interpreted HOF
    aggregates to ONE vectorized Arrow batch kernel (_np_pq_udf) —
    the plan must show exactly one ArrowEvalPython (vectorized) node
    and never a row-at-a-time BatchEvalPython."""
    from survivor_processing_spark.operators.pq import pq_train_encode

    df = pq_train_encode(_emb(spark), m=4, k=4, iters=1, dim=64)
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_topk_is_take_ordered(spark):
    from survivor_processing_spark.operators.pq import pq_adc_topk

    df = pq_adc_topk(
        _emb(spark), [0.1] * 64, topk=5, m=4, k=4, iters=1
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for a top-k
    # one vectorized kernel pass; never row-at-a-time Python
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_bfs_no_cartesian_no_python(spark):
    from survivor_processing_spark.operators.bfs import bfs_levels

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    plan = _plan(bfs_levels(edges, [0], n_iters=2))
    assert "CartesianProduct" not in plan
    for node in PY_NODES:
        assert node not in plan


def test_exact_split_windows_share_one_exchange(spark):
    from survivor_processing_spark.operators.curation import (
        stratified_exact_split,
    )

    df = stratified_exact_split(_docs(spark), ["lang"], "doc_id")
    plan = _plan(df)
    # rank and count windows both partition by the strata: one
    # exchange feeds both, nothing else shuffles
    assert plan.count("Exchange") == 1
    for node in PY_NODES:
        assert node not in plan


def test_collocation_mapside_combine_no_python(spark):
    from survivor_processing_spark.operators.collocation import (
        dice_collocations,
    )

    plan = _plan(dice_collocations(_docs(spark), min_count=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan
    # both grouped counts partial-aggregate before their exchanges
    assert "partial_count" in plan


def test_bigram_fluency_no_python_no_cartesian(spark):
    from survivor_processing_spark.operators.collocation import (
        bigram_fluency,
    )

    plan = _plan(bigram_fluency(_docs(spark)))
    assert "CartesianProduct" not in plan
    for node in PY_NODES:
        assert node not in plan
    assert "partial_count" in plan


def test_mad_windows_and_agg_share_one_group_exchange(spark):
    from survivor_processing_spark.operators.curation import (
        mad_outlier_stats,
    )

    df = mad_outlier_stats(
        _docs(spark).selectExpr("lang AS g", "n_chars AS v"), ["g"], "v"
    )
    plan = _plan(df)
    # the v-ranking window, the d-ranking window, and the final
    # aggregate all hash-partition by the group: one exchange feeds
    # the chain (the second window adds a Sort, never a shuffle)
    assert plan.count("Exchange") == 1
    for node in PY_NODES:
        assert node not in plan


def test_k_anonymity_single_window_exchange(spark):
    from survivor_processing_spark.operators.curation import (
        k_anonymity_suppress,
    )

    df = k_anonymity_suppress(
        _docs(spark), ["lang", "source"], 2
    )
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    for node in PY_NODES:
        assert node not in plan


def test_urlnorm_is_pure_projection(spark):
    from survivor_processing_spark.operators.urlnorm import url_canonicalize

    df = url_canonicalize(
        _docs(spark).selectExpr("concat('http://a.com/', doc_id) AS url")
    )
    plan = _plan(df)
    # per-row JVM projection: NOTHING may shuffle and no Python runs
    # (the query-param filter/sort lambdas are CodegenFallback, so no
    # WholeStageCodegen span — still a single interpreted-safe
    # Project, which is the property that matters at scale)
    assert "Exchange" not in plan
    for node in PY_NODES:
        assert node not in plan
    assert plan.startswith("Project") or "Project" in plan.split("\n")[0]


def test_fingerprint_partial_aggregates_no_hash_exchange(spark):
    from survivor_processing_spark.operators.fingerprint import (
        content_fingerprint,
    )

    plan = _plan(content_fingerprint(_docs(spark), ["doc_id", "lang"]))
    # the only exchange is the final 1-row reduce — never a
    # hash-partitioned shuffle of the data
    assert "Exchange hashpartitioning" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    for node in PY_NODES:
        assert node not in plan




def test_pagerank_iteration_mapside_no_cartesian(spark):
    from survivor_processing_spark.operators.pagerank import (
        pagerank_portable,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], "src long, dst long"
    )
    plan = _plan(pagerank_portable(edges, n_iters=2))
    assert "CartesianProduct" not in plan
    for node in PY_NODES:
        assert node not in plan
    # contribs combine map-side before the dst shuffle
    assert "partial_sum" in plan


def test_ols_single_hash_aggregate(spark):
    from survivor_processing_spark.operators.regression import (
        ols_trend_exact,
    )

    df = _docs(spark).selectExpr(
        "lang AS g", "cast(doc_id % 50 as double) AS x", "cast(n_chars as double) AS y"
    )
    plan = _plan(ols_trend_exact(df, ["g"], "x", "y", scale=10))
    # five moments in ONE map-side-combined hash aggregate: a single
    # group exchange, no window, no join
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan
    for node in PY_NODES:
        assert node not in plan


def test_inverted_postings_mapside_no_python(spark):
    from survivor_processing_spark.operators.retrieval import (
        inverted_postings,
    )

    plan = _plan(inverted_postings(_docs(spark), min_df=2, max_df=1000))
    assert "CartesianProduct" not in plan
    for node in PY_NODES:
        assert node not in plan
    assert "partial_count" in plan


def test_bm25_no_nest_loop_no_python(spark):
    from survivor_processing_spark.operators.retrieval import (
        bm25_doc_term_scores,
    )

    plan = _plan(bm25_doc_term_scores(_docs(spark)))
    assert "CartesianProduct" not in plan
    # the ONE nested-loop join allowed is the deliberate 1-row
    # broadcast of the corpus totals (crossJoin(broadcast(totals)) —
    # the correct plan for a scalar join at any scale); a second one
    # would be a regression
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    for node in PY_NODES:
        assert node not in plan


def test_interpolate_windows_share_key_exchange(spark):
    from survivor_processing_spark.operators.timeseries import (
        interpolate_linear,
    )

    df = _docs(spark).selectExpr(
        "lang AS k",
        "doc_id AS t",
        "if(doc_id % 3 = 0, NULL, n_chars) AS yq",
    )
    plan = _plan(interpolate_linear(df, ["k"], "t", "yq"))
    # the bracketing ignore-nulls windows all partition by the key:
    # one exchange, no join
    assert plan.count("Exchange") == 1
    for node in PY_NODES:
        assert node not in plan


def test_nfc_is_one_arrow_projection(spark):
    from survivor_processing_spark.operators.textnorm import (
        nfc_normalize_text,
    )

    plan = _plan(nfc_normalize_text(_docs(spark)))
    # the documented legitimate Python case: exactly ONE Arrow-batched
    # eval node, and NOTHING shuffles around it
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # never row-at-a-time
    assert "Exchange" not in plan


def test_triangles_no_cartesian_mapside_no_python(spark):
    from survivor_processing_spark.operators.graphstats import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    plan = _plan(triangle_counts(edges))
    # the wedge and closing joins are equi-joins — a nested loop here
    # would be the Θ(deg²) blowup the degree ordering exists to avoid
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan
    assert "partial_count" in plan



def test_zonemap_pruned_scan_pushes_residual_filter(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.zonemap import (
        build_zonemap,
        pruned_scan,
    )

    for part in range(3):
        pq.write_table(
            pa.table({"k": list(range(part * 10, part * 10 + 10))}),
            str(tmp_path / f"p{part}.parquet"),
        )
    zm = build_zonemap(spark, str(tmp_path), ["k"])
    df = pruned_scan(spark, str(tmp_path), zm, "k", 12, 18)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the residual range predicate still reaches the parquet reader
    # (zone maps prune FILES; row groups prune inside what's left)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(k,12)" in plan
    for node in PY_NODES:
        assert node not in plan


def test_snapshot_read_schedules_only_active_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
    )

    for nm in ("a", "b", "c"):
        pq.write_table(
            pa.table({"k": [1, 2, 3]}), str(tmp_path / f"{nm}.parquet")
        )
    commit_version(str(tmp_path), adds=["a.parquet", "b.parquet"])
    commit_version(
        str(tmp_path), adds=["c.parquet"], removes=["a.parquet"]
    )
    df = read_snapshot(spark, str(tmp_path), 2).filter("k > 1")
    # pre-plan file pruning: the scan never lists the removed file
    files = sorted(f.rsplit("/", 1)[-1] for f in df.inputFiles())
    assert files == ["b.parquet", "c.parquet"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan  # residual filter still pushes
    for node in PY_NODES:
        assert node not in plan


def test_asof_read_schedules_only_resolved_version_files(spark, tmp_path):
    """read_snapshot_asof (queued r12 — q:snapshot_time_travel): the
    TIMESTAMP AS OF read is pre-plan pruned exactly like the version
    read — the resolver is driver-side log metadata, and the scan it
    plans lists ONLY the files active at the resolved version (no
    footer sweep, no post-scan filtering by file)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        _entry_path,
        commit_version,
        read_snapshot_asof,
    )

    for nm in ("a", "b", "c"):
        pq.write_table(
            pa.table({"k": [1, 2, 3]}), str(tmp_path / f"{nm}.parquet")
        )
    commit_version(str(tmp_path), adds=["a.parquet", "b.parquet"])
    commit_version(
        str(tmp_path), adds=["c.parquet"], removes=["a.parquet"]
    )
    with open(_entry_path(str(tmp_path), 2)) as f:
        ts2 = float(json.load(f)["ts"])
    df = read_snapshot_asof(spark, str(tmp_path), ts2).filter("k > 1")
    files = sorted(f.rsplit("/", 1)[-1] for f in df.inputFiles())
    assert files == ["b.parquet", "c.parquet"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    for node in PY_NODES:
        assert node not in plan


def test_stream_interval_join_is_hash_partitioned_not_cartesian(spark):
    import pyspark.sql.functions as F

    from survivor_processing_spark.streaming.joins import (
        stream_interval_join,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    plan = _plan(
        stream_interval_join(
            views,
            clicks,
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
            upper="1 hour",
        )
    )
    # the equi-key must drive the join; the interval is a residual
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan


def test_sq8_encode_is_shuffle_free_projection(spark):
    from survivor_processing_spark.operators.quantize import sq8_summary

    df = sq8_summary(_emb(spark), dim=64)
    plan = _plan(df)
    # after the dim-sized bounds collect, the encode itself is one
    # codegen'd projection over the scan: no shuffle, no Python
    assert "Exchange" not in plan
    for node in PY_NODES:
        assert node not in plan


def test_semantic_decontam_kernel_train_never_shuffles(spark):
    """operators/decontam.py semantic_decontaminate, both r14 lanes:
    at kernel_min_bench+ bench rows the pairing is exactly one
    ArrowEvalPython (vectorized numpy matmul) node — never
    row-at-a-time Python, never duplicated by the explode's pruning
    filter (the asNondeterministic pin, guide §4.4); below the
    threshold the original BroadcastNestedLoopJoin lane survives.
    Either way the train side is never key-shuffled and the only
    hash exchange is the per-id hit aggregate AFTER the
    contamination filter."""
    from survivor_processing_spark.operators.decontam import (
        semantic_decontaminate,
    )

    emb = _emb(spark).select("vec_id", "embedding")
    # kernel lane: 50 bench rows >= the default threshold
    bench = emb.filter("vec_id % 10 = 0")
    train = emb.filter("vec_id % 10 <> 0")
    plan = _plan(semantic_decontaminate(train, bench, dim=64))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # small-bench join lane: 5 bench rows < the default threshold
    bench_s = emb.filter("vec_id % 100 = 0")
    train_s = emb.filter("vec_id % 100 <> 0")
    plan_j = _plan(semantic_decontaminate(train_s, bench_s, dim=64))
    assert "BroadcastNestedLoopJoin" in plan_j
    assert "CartesianProduct" not in plan_j
    for node in PY_NODES:
        assert node not in plan_j
    assert plan_j.count("Exchange hashpartitioning") == 1


def test_delete_and_zorder_swaps_are_pre_plan_pruned(spark, tmp_path):
    """The DML pair queued for r11 (sinks/merge.py
    delete_from_snapshot + operators/snapshot.py zorder_snapshot):
    after each atomic swap the snapshot scan schedules EXACTLY the
    surviving file set — removed files never reach the planner, and
    the zorder rewrite's output is the whole scan set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
        zorder_snapshot,
    )
    from survivor_processing_spark.sinks.merge import delete_from_snapshot

    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": [1, 2, 3]}),
        str(tmp_path / "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": [10, 11], "v": [10, 11]}),
        str(tmp_path / "b.parquet"),
    )
    commit_version(str(tmp_path), adds=["a.parquet", "b.parquet"])
    out = delete_from_snapshot(spark, str(tmp_path), "k", 1, 3)
    files = sorted(
        f.rsplit("/", 1)[-1]
        for f in read_snapshot(spark, str(tmp_path)).inputFiles()
    )
    # a fully-deleted file vanished with no replacement; b untouched
    assert files == ["b.parquet"] and out["adds"] == []
    z = zorder_snapshot(spark, str(tmp_path), "k", "v", n_files=1)
    files = sorted(
        f.rsplit("/", 1)[-1]
        for f in read_snapshot(spark, str(tmp_path)).inputFiles()
    )
    assert files == sorted(z["adds"])  # the swap IS the scan set
    plan = (
        read_snapshot(spark, str(tmp_path))
        .filter("k >= 10")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan  # residual predicate still pushes
    for node in PY_NODES:
        assert node not in plan


def test_stream_snapshot_ingest_scan_is_log_driven(spark, tmp_path):
    """streaming/lakehouse.py stream_into_snapshot (queued r11): the
    post-ingest batch scan schedules exactly the log's active files —
    per-batch commits, not a directory glob — and the manifest
    carries stats+blooms from the bootstrap commit onward."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.snapshot import (
        read_snapshot,
        snapshot_files,
        table_state,
    )
    from survivor_processing_spark.streaming.lakehouse import (
        stream_into_snapshot,
    )

    src = str(tmp_path / "src")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b"
    )
    import os as _os
    import shutil as _shutil

    for sub in ("a", "b"):
        p = next(
            x
            for x in sorted(_os.listdir(f"{src}/{sub}"))
            if x.endswith(".parquet")
        )
        _os.rename(f"{src}/{sub}/{p}", f"{src}/{sub}.parquet")
        _shutil.rmtree(f"{src}/{sub}", ignore_errors=True)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_into_snapshot(
        stream, str(tmp_path / "tbl"), "event_id", str(tmp_path / "ck")
    )
    q.awaitTermination()
    tbl = str(tmp_path / "tbl")
    df = read_snapshot(spark, tbl).filter("event_id > 100")
    files = sorted(f.rsplit("/", 1)[-1] for f in df.inputFiles())
    assert files == snapshot_files(tbl)  # log-driven, glob-free
    assert all(
        v.get("event_id", {}).get("bloom")
        for v in table_state(tbl).stats.values()
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    for node in PY_NODES:
        assert node not in plan


def test_mor_delete_is_sidecar_only_and_read_is_broadcast_anti(
    spark, tmp_path
):
    """operators/mor.py delete_from_snapshot_mor + the DV-aware read
    (queued r11, q:snapshot_mor): the MOR delete's commit adds ZERO
    data files (sidecar-only — the 100 TB point of merge-on-read),
    the post-delete scan still schedules every active data file with
    the DV applied as a BROADCAST anti-join (never a shuffled build
    for a KB-scale tombstone set), predicates still push to the
    parquet scan through the anti-join, and the whole path stays
    JVM-side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.mor import (
        delete_from_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
        snapshot_files,
    )

    pq.write_table(
        pa.table({"k": list(range(0, 50)), "v": list(range(0, 50))}),
        str(tmp_path / "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": list(range(50, 100)), "v": list(range(50, 100))}),
        str(tmp_path / "b.parquet"),
    )
    commit_version(str(tmp_path), adds=["a.parquet", "b.parquet"])
    out = delete_from_snapshot_mor(spark, str(tmp_path), "k", 10, 19)
    # sidecar-only: the active DATA file set is untouched
    assert snapshot_files(str(tmp_path)) == ["a.parquet", "b.parquet"]
    assert out["dv"].startswith("dv-")
    df = read_snapshot(spark, str(tmp_path)).filter("k >= 5")
    files = sorted(f.rsplit("/", 1)[-1] for f in df.inputFiles())
    # inputs = the active data files + exactly the one sidecar (the
    # DV build side), nothing stranded or globbed
    assert files == sorted(["a.parquet", "b.parquet", out["dv"]])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [" in plan  # predicate reaches the scan
    for node in PY_NODES:
        assert node not in plan
    # zero-overhead contract: a table with no live DVs keeps the
    # bare-scan plan — no join node anywhere
    from survivor_processing_spark.operators.mor import purge_dvs

    purge_dvs(spark, str(tmp_path))
    clean = read_snapshot(spark, str(tmp_path))
    assert "Join" not in clean._jdf.queryExecution().executedPlan().toString()


def test_mor_upsert_appends_without_rewrites(spark, tmp_path):
    """operators/mor.py upsert_into_snapshot_mor: the MERGE-ON-READ
    upsert's commit is adds + dv_adds ONLY — every pre-existing data
    file survives by NAME (cost scales with the batch, not the files
    its keys touch), the post-upsert scan schedules old + new data
    files with the tombstones applied as a broadcast anti-join, and
    keys outside every envelope never put a file in the covered
    set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        read_snapshot,
        snapshot_files,
        stats_for_files,
        table_state,
    )

    pq.write_table(
        pa.table({"k": list(range(0, 50)), "v": list(range(0, 50))}),
        str(tmp_path / "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": list(range(50, 100)), "v": list(range(50, 100))}),
        str(tmp_path / "b.parquet"),
    )
    d = str(tmp_path)
    commit_version(
        d,
        adds=["a.parquet", "b.parquet"],
        stats=stats_for_files(d, ["a.parquet", "b.parquet"], ["k"]),
    )
    src = spark.createDataFrame(
        [(10, -1), (200, -2)], "k bigint, v bigint"
    )
    out = upsert_into_snapshot_mor(spark, d, src, "k")
    active = set(snapshot_files(d))
    # zero rewrites; the batch appended; only a's envelope matched
    assert {"a.parquet", "b.parquet"} <= active
    assert set(out["adds"]) <= active
    assert table_state(d).dvs[out["dv"]] == ["a.parquet"]
    df = read_snapshot(spark, d).filter("k >= 5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [" in plan
    for node in PY_NODES:
        assert node not in plan


def test_containment_pairs_no_cartesian_mapside(spark):
    """ngram_containment_pairs (queued r11): candidates come from the
    posting-list pair emission — never a cartesian/nested-loop join —
    and the pair counts combine MAP-SIDE so the shuffle carries
    distinct pairs, not emissions; both directions come from one
    projection pair over the same joined frame (no second shuffle of
    the candidates)."""
    from survivor_processing_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    plan = _plan(
        ngram_containment_pairs(_docs(spark), "text", "doc_id", 0.5)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # map-side pair-count combine
    for node in PY_NODES:
        assert node not in plan


def test_dsir_broadcast_lane_mapside_no_python(spark):
    """operators/dsir.py dsir_importance_weights (queued r12): the
    lane table (≤ n_buckets rows by construction) must BROADCAST into
    the per-doc count join — never a shuffled join against state that
    is O(corpus); the bucket aggregates must partial-aggregate
    map-side; everything stays JVM-side (md5 lanes, no Python)."""
    from survivor_processing_spark.operators.dsir import (
        dsir_importance_weights,
    )

    # earlier suites (test_dsir.py) leave their own persisted cnt
    # entries behind, and CacheManager substitutes matching cached
    # fragments into new plans — nested InMemoryRelation prints then
    # inflate the text-scan count nondeterministically.  Clear the
    # cache so this audit sees the operator's OWN plan regardless of
    # suite order.
    spark.catalog.clearCache()
    docs = _docs(spark)
    out = dsir_importance_weights(
        docs.select("doc_id", "text"),
        docs.filter("lang = 'en'").select("doc_id", "text"),
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # map-side combine on the bucket aggregates: partial_count before
    # the exchange
    assert "partial_count" in plan or "partial count" in plan.lower()
    for node in PY_NODES:
        assert node not in plan
    # single-pass contract (ADVICE r12): the per-(doc, bucket) count
    # is persisted, so BOTH its consumers (the corpus-total aggregate
    # and the per-doc lane join) read the cache and the raw corpus's
    # tokenize+explode+md5 lineage executes ONCE.  The plan PRINTS
    # the cached lineage under every InMemoryRelation reference, so
    # the text-scan budget is 1 live (target) + one per cached-plan
    # print; without the persist, InMemoryRelation vanishes and the
    # raw side's second live scan trips the bound.
    assert plan.count("InMemoryTableScan") >= 2
    text_scans = sum(
        1
        for ln in plan.splitlines()
        if ("FileScan" in ln or "Scan parquet" in ln) and "text#" in ln
    )
    assert text_scans <= 1 + plan.count("InMemoryRelation"), (
        f"raw corpus tokenized more than once:\n{plan}"
    )


def test_boilerplate_strip_mapside_df_small_build_side(spark):
    """operators/dedup.py strip_boilerplate_paragraphs (queued r12):
    the document-frequency count must partial-aggregate map-side (a
    billion-copy banner costs one partial per task, never a hot
    window), the flag-back join must not cartesian, and everything
    stays JVM-side."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.dedup import (
        strip_boilerplate_paragraphs,
    )

    d = _docs(spark).select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text"),
    )
    plan = _plan(
        strip_boilerplate_paragraphs(d, "text", "doc_id", delim="\n")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # min-struct/df aggregates, no window
    assert "partial_count" in plan
    for node in PY_NODES:
        assert node not in plan
