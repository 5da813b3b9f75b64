"""Driver-contract robustness probes (verify skill 'worth probing'):
clean failure on a bogus sf_dir, and cross-run hash stability of
query outputs (instability = a missing window tiebreak column)."""

import pytest
from pyspark.sql.utils import AnalysisException

import __spark_entry__ as entrymod
from survivor_processing_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def _values(df):
    pdf = df.toPandas().reindex(sorted(df.columns), axis=1)
    return sorted(map(tuple, pdf.astype(str).to_numpy().tolist()))


def test_bogus_sf_dir_raises_analysis_exception(spark):
    with pytest.raises(AnalysisException):
        load_table(spark, "/root/testdata/sf_nope", "lineitem").count()


@pytest.mark.parametrize(
    "name",
    [
        "flagship_contestant_stats",   # window over joined frame
        "window_rank_placement",       # explicit rank tiebreaks
        "minhash_lsh_pairs",           # hash-family determinism
        "topk_per_group_salted",       # per-group top-k ordering
                                       # (global twin RETIRED r11)
        "fuzzy_name_match_dist2",      # variant-join pair emission
                                       # (dist1 row RETIRED r10)
        "bm25_doc_term_scores",        # integer-keyed term lanes
                                       # (tfidf_top_terms RETIRED r12
                                       # into this + inverted_postings)
    ],
)
def test_query_rerun_is_value_stable(spark, name):
    fn = entrymod.queries()[name]
    assert _values(fn(spark, SF)) == _values(fn(spark, SF))


def test_entry_schema_and_rows(spark):
    df = entrymod.entry(spark)
    assert df.columns == [
        "c_custkey", "c_name", "nation_name", "region_name", "placement",
        "n_orders", "total_spent", "last_order_date", "n_items",
        "ever_returned", "fin_revenue",
    ]
    assert df.count() > 0


def test_every_oracle_key_has_query():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every registered query is callable with the standard signature
    assert all(callable(f) for f in qs.values())


def test_priority_window_is_exactly_fifty_registered_names():
    """The driver records CORRECTNESS rows for the first 50 queries()
    entries only; a short/misspelled _PRIORITY silently wastes
    verification slots, a long one silently drops the tail."""
    import __spark_entry__ as entrymod
    from survivor_processing_spark.queries import REGISTRY

    assert len(entrymod._PRIORITY) == 50
    missing = [n for n in entrymod._PRIORITY if n not in REGISTRY]
    assert missing == []
    assert len(set(entrymod._PRIORITY)) == 50


def test_committed_sweep_covers_registry():
    """SWEEP_SF1.json lists exactly the registered queries
    (``tools/sweep.py --check``)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "sweep", os.path.join(repo, "tools", "sweep.py")
    )
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)
    assert sweep.check_committed(repo) == 0
