"""Workload definitions: what one pass runs.  Why each was chosen is in
perfbench/README.md."""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from hostclock import Clock
from lakehouse import LakehouseWorkload, catalyst_phases
from survivor_processing_spark.queries import REGISTRY
from tools.check_correctness import compare, compare_partial, duckdb_con

# the reference's relational query surface
REFERENCE_ETL = (
    "flagship_contestant_stats",
    "grouped_sum_all_measures",
    "multiway_left_join",
    "window_rank_placement",
    "unpivot_measures",
    "asof_join_keyed",
    "asof_join_forward_keyed",
    "asof_join_nearest_broadcast",
    "containment_join_nullout",
    "range_join_binned",
    "session_window_agg",
    "grouping_sets_agg",
    "cumulative_window_sums",
    "pivot_event_type_wide",
    "scd2_order_history",
    "funnel_stage_counts",
    "interval_merge_islands",
    "regex_extract_columns",
    "explode_map_of_arrays",
    "entity_resolution_cascade",
    "derivation_chain",
    "cohort_retention",
)
# the numpy Arrow-kernel queries (k-means and semantic-dedup
# assignment, PQ, IVF, decontamination pairing) and cosine top-k;
# k-means, PQ and IVF also train with jobs launched during the build
VECTOR_DEDUP = (
    "kmeans_clusters",
    "pq_adc_topk",
    "ivf_topk_exact",
    "semantic_dedup_portable",
    "semantic_decontaminate",
    "cosine_topk",
)
NAMES = ("reference_etl", "vector_dedup", "lakehouse_merge")


class QueryWorkload:
    """Registered queries, run in a seeded order each pass; each
    result is checked against its DuckDB oracle after the timer
    stops."""

    def __init__(
        self, name: str, queries: tuple[str, ...], nominal_pass_s: float, sf_dir: str, oracle_dir: str
    ):
        self.name = name
        self.queries = queries
        self.nominal_pass_s = nominal_pass_s
        self.sf_dir = sf_dir
        self.oracle_dir = oracle_dir
        self._con = None
        self._oracle = {}

    def run_pass(self, spark, tracer, rng) -> tuple[list[dict], dict]:
        order = [self.queries[i] for i in rng.permutation(len(self.queries))]
        return [self._run(spark, tracer, q) for q in order], {}

    def _run(self, spark, tracer, name: str) -> dict:
        spark.catalog.clearCache()
        rec = {"name": name, "kind": "query", "error": None}
        pdf = qe = None
        clock = Clock()
        try:
            with tracer.op(name) as op:
                rec["op"] = op
                with tracer.phase(op, "build"):
                    df = REGISTRY[name].fn(spark, self.sf_dir)
                if tracer.enabled:
                    with tracer.phase(op, "plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                with tracer.phase(op, "execute"):
                    pdf = df.toPandas()
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        clock.stop(rec)
        if qe is not None and pdf is not None:
            rec["catalyst"] = catalyst_phases(qe)
        if pdf is not None:
            problems = self._check(name, pdf)
            if problems:
                rec["error"] = f"oracle mismatch: {problems[:2]}"
        return rec

    def _check(self, name: str, pdf) -> list[str]:
        check = compare_partial if REGISTRY[name].partial else lambda s, o: compare(name, s, o)
        return check(pdf, self._oracle_result(name))

    def _oracle_result(self, name: str):
        """The DuckDB oracle's result, computed once per fixture and
        oracle text and kept in ``oracle_dir``."""
        if name in self._oracle:
            return self._oracle[name]
        sql = REGISTRY[name].oracle
        digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
        path = os.path.join(self.oracle_dir, f"{name}-{digest}.pkl")
        if os.path.exists(path):
            odf = pd.read_pickle(path)
        else:
            if self._con is None:
                self._con = duckdb_con(self.sf_dir)
            odf = self._con.execute(sql).df()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            odf.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        self._oracle[name] = odf
        return odf

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def make(name: str, sf_dir: str, oracle_dir: str, work_dir: str):
    """The workload ``name``, with its nominal pass time in seconds at
    sf0.01 on the reference host (4 cores), which sets the pass count."""
    if name == "reference_etl":
        return QueryWorkload(name, REFERENCE_ETL, 10.0, sf_dir, oracle_dir)
    if name == "vector_dedup":
        return QueryWorkload(name, VECTOR_DEDUP, 6.0, sf_dir, oracle_dir)
    if name == "lakehouse_merge":
        return LakehouseWorkload(sf_dir, work_dir)
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(NAMES)}")
