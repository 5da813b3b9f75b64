"""Physical-plan audits (SURVEY.md §4.2, §7 Phase 7).

Correctness says the answer is right; these tests pin down that the
PLAN is the one that survives 100x scale: dimension lookups broadcast
(never shuffle the fact side), filters and column pruning reach the
parquet scan, the banded as-of join is a hash join (not a nested
loop over the dimension), aggregates partial-aggregate map-side, and
top-k never globally sorts."""

from __future__ import annotations

import pytest

from survivor_processing_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_lookup_is_broadcast_hash_join(spark):
    plan = plan_of(spark, "broadcast_lookup_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_projection_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_project")
    assert "PushedFilters: [" in plan
    # pushed, non-empty
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip()


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "filter_project")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # lineitem has 16 columns; the query needs a handful
    assert read.count(",") < 8


def test_asof_broadcast_is_hash_join_not_nested_loop(spark):
    # the backward-broadcast strategy's plan audit survives its
    # driver row's r10 retirement: build the same shape directly
    # from the operator (events facts vs signup-dim as-of)
    import pyspark.sql.functions as F

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.asof import asof_join

    ev = load_table(spark, SF, "events")
    facts = ev.filter(F.col("event_type") != "signup").select(
        "event_id", "ts"
    )
    dim = ev.filter(F.col("event_type") == "signup").select(
        F.col("ts").alias("signup_ts")
    )
    df = asof_join(facts, dim, "ts", "signup_ts", strategy="broadcast")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only nested-loop allowed is the single-row open-interval
    # join (build side = one row per group)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_flagship_no_cartesian_or_nested_loop(spark):
    plan = plan_of(spark, "flagship_contestant_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_partial_aggregation(spark):
    plan = plan_of(spark, "minhash_lsh_pairs")
    assert "partial_min" in plan  # map-side combine before the exchange


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "cosine_topk")
    assert "TakeOrderedAndProject" in plan


def test_grouped_agg_partial_map_side(spark):
    plan = plan_of(spark, "grouped_sum_all_measures")
    assert "partial_sum" in plan


def test_simhash_partial_aggregation_no_python_hot_path(spark):
    plan = plan_of(spark, "simhash_portable_pairs")
    assert "partial_sum" in plan  # the lane vote sums combine map-side
    # signature + bucketing + verify are all JVM expressions
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_jaccard_no_cross_product(spark):
    # gate retired r13 (carrier q:ngram_containment_pairs) — the plan
    # contract stays pinned on the operator itself
    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    d = load_table(spark, SF, "documents")
    df = ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r13: the count strategy is fully join-free — per-doc shingle
    # counts ride the posting lists, so the shingle lineage (and the
    # upstream input pipeline) executes exactly once
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_rolling_fingerprint_stays_jvm_side(spark):
    plan = plan_of(spark, "rolling_fingerprint")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_candidates_are_join_free_posting_lists(spark):
    """Candidate generation must be ONE groupBy on the bucket key —
    a self-join here would execute the signature pipeline twice."""
    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cands = lsh_candidate_pairs(minhash_signatures(docs, "text", "doc_id"))
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/NLJ
    assert plan.count("Scan parquet") == 1


def test_rollup_single_pass(spark):
    """Grouping-set grains (ROLLUP/CUBE/GROUPING SETS lower the same
    way; the ROLLUP row retired r10 into this gate) = Expand inside
    one hash aggregate over ONE scan, not a union of per-level
    scans."""
    plan = plan_of(spark, "grouping_sets_agg")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_curation_filters_are_map_only(spark):
    """Quality filter, sampling, and redaction must be pure map-side
    projections: no exchange, no Python eval."""
    for q in ("quality_filter_chain", "stratified_hash_sample",
              "pii_redaction"):
        plan = plan_of(spark, q)
        assert "Exchange" not in plan, q
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_sampling_prunes_scan_columns(spark):
    plan = plan_of(spark, "stratified_hash_sample")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "doc_id" in read and "lang" in read and "text" not in read


def test_pack_sequences_single_stratum_shuffle(spark):
    """Packing shuffles ONCE on the strata keys (the window), nothing
    else."""
    plan = plan_of(spark, "pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_decontaminate_training_side_broadcast_only(spark):
    """The 100 TB training corpus must never shuffle to discover
    hits: eval-gram lookup and verdict-back are both broadcast hash
    joins, and nothing sort-merge-joins."""
    plan = plan_of(spark, "decontaminate_ngram")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_no_window_no_python(spark):
    """Keep-first winner must be a map-side-combinable min-struct
    aggregate, not a row_number window (hot boilerplate paragraph =
    one task); partial_min proves the combine."""
    plan = plan_of(spark, "paragraph_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_join_free_partial_agg(spark):
    """Two aggregates on doc-local keys: no joins, no windows,
    map-side combine, one scan."""
    plan = plan_of(spark, "repetition_stats")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan
    assert plan.count("Scan parquet") == 1


def test_cumulative_windows_share_one_shuffle_and_sort(spark):
    # three frames (cumulative, moving, lag) over the same (user_id)
    # partitioning must collapse into ONE Window operator behind ONE
    # exchange + sort — a per-frame shuffle would triple the cost
    plan = plan_of(spark, "cumulative_window_sums")
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_scd2_windows_reuse_partitioning(spark):
    # lag-compress + lead-effective-to are two Window nodes over the
    # same (o_custkey, ts) sort: one sort, <= 2 exchanges (daily agg
    # keys differ from the window key), never a per-window shuffle
    plan = plan_of(spark, "scd2_order_history")
    assert plan.count("Exchange") <= 2
    assert plan.count("Sort ") == 1


def test_grouping_sets_single_expand_single_shuffle(spark):
    # GROUPING SETS must plan one Expand + one aggregate exchange for
    # all three grains, not one scan/shuffle per grain
    plan = plan_of(spark, "grouping_sets_agg")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1


def test_range_join_binned_is_hash_join(spark):
    # the binned range join's whole point: BroadcastHashJoin on the
    # grid cell, never a nested-loop probe of every band per row
    plan = plan_of(spark, "range_join_binned")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_domain_rebalance_no_global_sort(spark):
    # the per-domain cap rides partitioned windows (salted two-stage
    # top-k); a global orderBy would single-task the corpus
    plan = plan_of(spark, "domain_rebalance_sample")
    for line in plan.splitlines():
        if "Sort " in line and "global=true" in line:
            raise AssertionError(f"global sort in plan: {line}")


def test_partition_pruned_scan_has_partition_filters(spark):
    # the partitionBy(event_type) read-back must resolve the predicate
    # against directory names: PartitionFilters non-empty, so 3 of 5
    # partitions are never opened.  (The registered query returns a
    # localCheckpoint — plan is an ExistingRDD scan — so rebuild the
    # pre-checkpoint read here.)
    import shutil
    import tempfile
    import uuid

    import pyspark.sql.functions as F

    from survivor_processing_spark.catalog import load_table

    path = f"{tempfile.gettempdir()}/sps_prune_{uuid.uuid4().hex[:8]}"
    try:
        ev = load_table(spark, SF, "events").select(
            "event_id", "value", "event_type"
        )
        ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
        pruned = spark.read.parquet(path).filter(
            F.col("event_type").isin("click", "purchase")
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        pushed = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert pushed.strip(), "partition filter list is empty"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_token_budget_mix_no_global_sort(spark):
    # gate retired r13 (carriers q:domain_rebalance_sample /
    # q:cumulative_window_sums / q:dsir_weights) — the per-partition
    # cumulative-window shape stays pinned on an inline rebuild of
    # the retired gate's exact query
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.functions.textstats import (
        token_count_expr,
    )

    d = load_table(spark, SF, "documents").select(
        "doc_id",
        "lang",
        token_count_expr(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 5000)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Sort " in line and "global=true" in line:
            raise AssertionError(f"global sort in plan: {line}")


# --- round 3b plans ---------------------------------------------------------


def test_funnel_single_window_exchange(spark):
    """Three chained conditional-min windows + the final 1-row agg
    must share partitionings: 2 Exchanges total, 3 Window nodes (a
    naive 3-branch union triples the whole chain)."""
    plan = plan_of(spark, "funnel_stage_counts")
    assert plan.count("Exchange") == 2
    assert plan.count("Window") == 3


def test_event_transitions_one_window_shuffle(spark):
    plan = plan_of(spark, "event_transition_matrix")
    # window shuffle + aggregate shuffle, nothing else
    assert plan.count("Exchange") <= 2
    assert "SortMergeJoin" not in plan


def test_fuzzy_join_is_hash_equijoin(spark):
    """Symmetric-delete blocking must plan an equi-join on the
    variant (hash join), never a nested-loop over all pairs."""
    plan = plan_of(spark, "fuzzy_name_match_dist2")
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_keys_scan_only(spark):
    """The Morton key is a pure projection — no shuffle at all.
    Drives the operator directly (q:zorder_morton_keys RETIRED r12
    into q:snapshot_dml's OPTIMIZE ZORDER; the interleave expression
    itself still plan-audits here)."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.zorder import zvalue

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "event_id",
            "user_id",
            F.floor("value").cast("bigint").alias("v"),
        )
        .select("event_id", zvalue("user_id", "v", bits=16).alias("zval"))
    )
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_cdc_collapse_is_hash_agg_not_window(spark):
    """The changelog collapse must be max_by aggregation (partial
    agg, bounded per-key state), not a row_number window sort."""
    plan = plan_of(spark, "cdc_apply_changelog")
    assert "Window" not in plan
    assert "max_by" in plan or "MaxBy" in plan


def test_orc_scan_filter_pushdown(spark, tmp_path):
    """The ORC reader honors the same pushdown contract as parquet
    (q:orc_roundtrip_scan relies on it)."""
    import pyspark.sql.functions as F

    p = str(tmp_path / "orc")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).write.orc(p)
    df = spark.read.orc(p).filter(F.col("id") > 500)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "id" in pushed


def test_lsh_portable_capped_no_cartesian(spark):
    """The capped portable-LSH config must stay an equi-join on the
    bucket key (the r05 scale-killer was quadratic WITHIN buckets,
    not a plan defect — but the cap's window must not perturb the
    join shape)."""
    plan = plan_of(spark, "embedding_lsh_portable_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the portable cap: one ranking window over (table_idx, bucket)
    assert "row_number" in plan


def test_lloyd_portable_no_cartesian(spark):
    plan = plan_of(spark, "kmeans_lloyd_portable")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_registered_no_cartesian_no_python(spark):
    """The r8-registered PageRank gate: every iteration must stay an
    equi-join on src with JVM-only arithmetic."""
    plan = plan_of(spark, "pagerank_portable")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_bfs_registered_no_cartesian_no_python(spark):
    plan = plan_of(spark, "bfs_levels")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_bpe_train_registered_final_plan_is_tiny(spark):
    """bpe_train's result is the driver-assembled merge table (k
    rows) — the final plan must be a bare scan of that local RDD,
    with all heavy lifting inside the per-iteration jobs it already
    ran.  Drives the operator directly since q:bpe_train_portable
    retired into q:bpe_token_budget (r11, ROTATION_r11.md)."""
    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.bpe import bpe_train

    df = bpe_train(load_table(spark, SF, "documents"), n_merges=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "Exchange" not in plan


def test_triangle_counts_pins_reused_frames(spark):
    """The r10 plan-audit fix: the edge/degree/oriented frames are
    materialized once, so the executed plan re-derives NOTHING from
    the source scan (was 59 duplicated parquet scans when lazy)."""
    plan = plan_of(spark, "triangle_counts")
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan
