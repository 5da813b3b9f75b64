"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "sf_dir": ..., "cpus": ..., "git_head": ...}

Each query is executed to completion (count() forces the full plan —
results stay on executors; nothing but the count crosses to the
driver).  A warm-up pass on sf0.001 first touches every code path so
JVM/codegen warm-up isn't billed to the measured run.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from survivor_processing_spark import get_spark  # noqa: E402
from survivor_processing_spark.queries import REGISTRY  # noqa: E402

HEADLINE = [
    "flagship_contestant_stats",
    "grouped_sum_all_measures",
    "multiway_left_join",
    "window_rank_placement",
    "unpivot_measures",
    "asof_join_keyed",
    "asof_join_forward_keyed",
    "containment_join_nullout",
    "minhash_lsh_pairs",
    "simhash_portable_pairs",
    "cosine_topk",
    "text_quality_scores",
    "session_window_agg",
    "grouping_sets_agg",
    "cumulative_window_sums",
    "pivot_event_type_wide",
    "range_join_binned",
    "scd2_order_history",
    "domain_rebalance_sample",
    "asof_join_nearest_broadcast",
    "cdc_apply_changelog",
    "funnel_stage_counts",
    "incremental_agg_merge",
    "bloom_prefilter_join",
    "interval_merge_islands",
    "doc_chunk_overlap",
    "fuzzy_name_match_dist2",
    "multimodal_header_parse",
    "ivf_topk_exact",
    "entity_match_quarantine",
    "kmeans_lloyd_portable",
    "multimodal_wav_slice",
    "kmeans_clusters",
    "multimodal_gif_frames",
    "semantic_dedup_portable",
    "compaction_plan_binpack",
    "heavy_hitters_mg",
    "pagerank_portable",
    "substring_dedup_spans",
    "bfs_levels",
    "bpe_token_budget",
    "sq8_summary",
    "stream_interval_join",
    "pq_adc_topk",
    "semantic_decontaminate",
    "stratified_exact_split",
    "triangle_counts",
    "build_zonemap",
    "ols_trend_exact",
    "snapshot_dml",
    "snapshot_mor",
    "stream_snapshot_ingest",
    "inverted_postings",
    "bm25_doc_term_scores",
    "ngram_containment_pairs",
    "ngram_coverage_score",
    "interpolate_linear",
    "nfc_normalize_text",
    "dice_collocations",
    "bigram_fluency",
    "url_canonicalize",
    "snapshot_mor_upsert",
    "snapshot_time_travel",
    "dsir_weights",
    "boilerplate_strip",
    "winsorize_group_stats",
    "mad_outlier_stats",
    "k_anonymity_stats",
]


def _execute(df) -> None:
    """Force FULL computation of every output column, driver-free.

    ``count()`` would let Catalyst prune unreferenced projections —
    a projection-only query would be billed as a bare scan.  The
    ``noop`` sink consumes every row/column on the executors and
    writes nothing."""
    df.write.format("noop").mode("overwrite").save()


def run_one(spark, name: str, sf_dir: str, reps: int = 3) -> float:
    """Best-of-N wall time: each rep re-builds the DataFrame (so
    planning is billed) and executes to completion; min over reps
    removes scheduler/GC noise without hiding real cost.  The
    DataFrame cache is cleared BEFORE every rep: an operator that
    persists an intermediate (dsir_weights' bucket counts) would
    otherwise hand reps 2..N the materialized cache via CacheManager
    plan substitution, and min-over-reps would report a cache read
    as the query's cost.  JVM/codegen warmth legitimately carries
    across reps; materialized data does not."""
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _execute(REGISTRY[name].fn(spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return best


def _calibration(spark) -> float:
    """Fixed pure-compute probe (no I/O, no SF dependence): 50M-row
    xxhash64 fold.  Its wall time moves only with host conditions
    (CPU contention, thermal state), so the artifact self-normalizes:
    comparing calibration_sec across artifacts separates real query
    regressions from scheduler noise."""
    import pyspark.sql.functions as F

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        # bit_xor: overflow-free under ANSI mode, still forces every
        # row through the hash
        spark.range(0, 50_000_000).select(
            F.bit_xor(F.xxhash64("id")).alias("h")
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _job_overhead(spark) -> float:
    """Second calibration probe: the xxhash64 probe is pure compute
    and blind to PER-JOB scheduling/IO drift, which moves sub-second
    multi-job gates.  This one measures orchestration: best-of-3 wall
    for 50 trivial single-task jobs, so a bench artifact separates
    CPU-bound movement (calibration_sec) from per-job-overhead
    movement (job_overhead_sec)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _j in range(50):
            spark.range(0, 1, numPartitions=1).write.format("noop").mode(
                "overwrite"
            ).save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _git_head() -> str | None:
    """The checkout's commit, or None outside a git checkout."""
    try:
        r = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() or None


def _ratio(prior_round, prior: dict, queries: dict[str, float]) -> dict | None:
    """Sum both runs over the queries they share."""
    common = sorted(set(prior) & set(queries))
    if not common:
        return None
    p = round(sum(float(prior[q]) for q in common), 3)
    t = round(sum(queries[q] for q in common), 3)
    return {
        "prior_round": prior_round,
        "n_common": len(common),
        "prior_sec": p,
        "this_sec": t,
        "ratio": round(t / p, 3) if p else None,
    }


def _prior_common(
    queries: dict[str, float], sf: float, cpus: int
) -> dict | None:
    """Common-subset comparison against the newest committed
    BENCH_r{N}.json.  None unless the prior ran at the same scale
    factor and records the same core count: a ratio across either
    reads as a regression or a speedup that is not one."""
    root = os.path.dirname(os.path.abspath(__file__))
    rounds = sorted(
        (int(m.group(1)), fn)
        for fn in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", fn))
    )
    if not rounds:
        return None
    n, fn = rounds[-1]
    try:
        with open(os.path.join(root, fn)) as f:
            doc = json.load(f)
        # driver artifacts wrap the bench line under "parsed"
        parsed = doc.get("parsed") or doc
        prior_sf = parsed.get("sf", doc.get("sf"))
        prior_cpus = doc.get("cpus", parsed.get("cpus"))
        if prior_cpus is None or int(prior_cpus) != cpus:
            return None
        if prior_sf is not None and float(prior_sf) != float(sf):
            return None
        return _ratio(n, parsed.get("queries", {}), queries)
    except (OSError, json.JSONDecodeError, AttributeError, TypeError,
            ValueError):
        return None


def _prior_stretch(queries: dict[str, float], cpus: int) -> dict | None:
    """Comparison for the sf1 tier against the committed
    BENCH_STRETCH.json (this harness's flat format or a wrapper with
    the bench line under "sf1").  None unless the prior ran on the
    same fixture and records the same core count."""
    root = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(root, "BENCH_STRETCH.json")) as f:
            doc = json.load(f)
        parsed = doc.get("sf1") or doc
        prior_cpus = doc.get("cpus", parsed.get("cpus"))
        if prior_cpus is None or int(prior_cpus) != cpus:
            return None
        prior_dir = doc.get("sf_dir")
        cur_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sps_scaled")
        if prior_dir is not None and prior_dir != cur_dir:
            return None
        return _ratio(doc.get("round"), parsed.get("queries", {}), queries)
    except (OSError, json.JSONDecodeError, AttributeError, TypeError,
            ValueError):
        return None


def _stretch_incremental(spark, sf_dir: str) -> dict:
    """The 100 TB rolling-crawl shape, measured not asserted: build +
    persist the corpus LSH band index and shingle table ONCE, then
    probe it with two successive "crawl batches" — the per-batch cost
    the steady-state pipeline pays.  Index residency is what makes
    probe cost batch-bound; without it every batch re-signs the corpus
    (the index_build number is that avoided cost)."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.catalog import load_table
    from survivor_processing_spark.operators.dedup import (
        lsh_band_index,
        minhash_match_against_corpus,
        minhash_signatures,
        shingle_table,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    idx = lsh_band_index(
        minhash_signatures(corpus, "text", "doc_id", 64, 3), 16, 4
    ).withColumnRenamed("doc_id", "corpus_id").persist()
    sh_c = (
        shingle_table(corpus, "text", "doc_id", 3)
        .select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh2"))
        .persist()
    )
    _execute(idx)
    _execute(sh_c)
    out["index_build_sec"] = round(time.perf_counter() - t0, 3)
    for i, m in ((1, 0), (2, 10)):
        batch = d.filter(F.col("doc_id") % 20 == m)
        t0 = time.perf_counter()
        _execute(
            minhash_match_against_corpus(
                batch,
                corpus,
                "text",
                "doc_id",
                threshold=0.5,
                corpus_index=idx,
                corpus_shingles=sh_c,
            )
        )
        out[f"probe{i}_sec"] = round(time.perf_counter() - t0, 3)
    idx.unpersist()
    sh_c.unpersist()
    return out


def main() -> None:
    stretch = "--stretch" in sys.argv
    if stretch:
        # second scale point: same harness, same self-normalizing
        # fields, over the gen_scale.py ~sf1 fixture (BENCH_STRETCH.json)
        sf_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sps_scaled")
        sf = 1.0
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        sf_match = re.search(r"sf([0-9.]+)", sf_dir)
        sf = float(sf_match.group(1)) if sf_match else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    load_start = os.getloadavg()
    for name in HEADLINE:  # warm-up: JVM, codegen, file listing
        _execute(REGISTRY[name].fn(spark, "/root/testdata/sf0.001"))
    cal = _calibration(spark)
    job_ovh = _job_overhead(spark)

    queries: dict[str, float] = {}
    for name in HEADLINE:
        queries[name] = round(run_one(spark, name, sf_dir), 3)
    total = round(sum(queries.values()), 3)
    exact_gates: dict[str, float] = {}
    if stretch:
        from survivor_processing_spark.catalog import load_table
        from survivor_processing_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        # the exact-Jaccard operator at its oracle-replayable cap and
        # at the production-shaped posting cap 256
        for key, cap in (
            ("ngram_jaccard_pairs_gate", 1000),
            ("ngram_jaccard_pairs_cap256", 256),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _execute(
                    ngram_jaccard_pairs(
                        docs, "text", "doc_id",
                        threshold=0.5, max_posting=cap,
                    )
                )
                best = min(best, time.perf_counter() - t0)
            exact_gates[key] = round(best, 3)
    out = {
        "metric": (
            "headline_queries_total_wall_stretch"
            if stretch
            else "headline_queries_total_wall"
        ),
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "git_head": _git_head(),
        "calibration_sec": cal,
        "job_overhead_sec": job_ovh,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "prior_common": (
            _prior_stretch(queries, cpus)
            if stretch
            else _prior_common(queries, sf, cpus)
        ),
        **({"exact_gates": exact_gates} if stretch else {}),
        **(
            {"incremental_index": _stretch_incremental(spark, sf_dir)}
            if stretch
            else {}
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
