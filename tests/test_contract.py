"""Driver-contract robustness probes (verify skill 'worth probing'):
clean failure on a bogus sf_dir, and cross-run hash stability of
query outputs (instability = a missing window tiebreak column)."""

import ast
import os

import pytest
from pyspark.sql.utils import AnalysisException

import __spark_entry__ as entrymod
from survivor_processing_spark.catalog import load_table
from tools.check_correctness import check_query, duckdb_con

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
    assert set(oracles) == set(qs)  # no query skips the oracle gate
    # every registered query is callable with the standard signature
    assert all(callable(f) for f in qs.values())


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    return duckdb_con(sf_dir)


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, oracle_con, sf_dir, name):
    """The oracle gate: the query on Spark equals its DuckDB oracle
    over the same fixture (row count, columns, dtypes, values; floats
    bit-equal)."""
    _, problems = check_query(spark, oracle_con, sf_dir, name)
    assert not problems, "\n".join(problems)


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


# Package defs that no production path reaches yet, kept on purpose.
# Each names its owner; delete an entry once its def gains a
# production caller or is removed (the test below fails on stale
# entries so this list can only shrink).
_UNREACHED_ALLOWLIST = {
    "pipelines/warehouse.py:Warehouse": "ROADMAP item 6",
    "pipelines/confessional.py:transform_confessional": "ROADMAP item 6",
    "pipelines/contestant.py:transform_contestants": "ROADMAP item 6",
    "pipelines/episode_stats.py:transform_episode_stats": "ROADMAP item 6",
    "pipelines/episodes.py:transform_episodes": "ROADMAP item 6",
    "pipelines/reddit.py:transform_reddit": "ROADMAP item 6",
    "pipelines/season.py:transform_season": "ROADMAP item 6",
    "functions/observe.py:observed_quality": "ROADMAP item 4",
    "operators/snapshot.py:vacuum_orphans": "ROADMAP item 3",
    "functions/derive.py:add_to_df":
        "reference capability: column derivation",
    "functions/derive.py:iterative_replace_null":
        "reference capability: column derivation",
    "sources/jdbc.py:pg_type_to_spark": "reference capability: Postgres I/O",
    "sources/jdbc.py:partition_bounds": "reference capability: Postgres I/O",
    "sources/jdbc.py:keyset_predicates": "reference capability: Postgres I/O",
    "sources/jdbc.py:read_jdbc_table": "reference capability: Postgres I/O",
    "sources/jdbc.py:write_jdbc_append": "reference capability: Postgres I/O",
    "sources/html.py:fetch_pages": "reference capability: HTML crawl",
    "catalog.py:register_views": "reference capability: SQL views",
    "operators/retrieval.py:bm25_query_topk":
        "float BM25 search, tests/test_retrieval.py",
    "operators/bloom.py:bloom_filter_literal":
        "test reference for bloom_filter_subquery",
    "functions/textstats.py:rolling_hash_expr":
        "test reference for rolling_min_by_doc",
    "operators/bpe.py:bpe_portable_oracle": "test reference for bpe_train",
    "operators/fingerprint.py:content_fingerprint_oracle":
        "test reference for content_fingerprint",
    "operators/pq.py:pq_portable_oracle": "test reference for pq_train_encode",
    "operators/snapshot.py:snapshot_summary_oracle":
        "test reference for snapshot_summary",
    "operators/substring.py:substring_clean_oracle":
        "test reference for substring_dedup_clean",
    "operators/zonemap.py:zonemap_oracle": "test reference for build_zonemap",
    "streaming/joins.py:stream_interval_join_oracle":
        "test reference for stream_interval_join",
    # ROADMAP item 5 deletion candidates: each is a public wrapper
    # whose kernel a registered query already runs (or, where named,
    # none does).
    "operators/bpe.py:bpe_train":
        "ROADMAP item 5; q:bpe_token_budget runs _bpe_train_merges",
    "operators/curation.py:k_anonymity_suppress":
        "ROADMAP item 5; q:k_anonymity_stats counts the same quasi-groups",
    "operators/fingerprint.py:content_fingerprint":
        "ROADMAP item 5; no registered query runs it",
    "operators/pq.py:pq_train_encode":
        "ROADMAP item 5; q:pq_adc_topk shares _fit and _np_pq_udf",
    "operators/snapshot.py:expire_snapshots":
        "ROADMAP item 5; no registered query runs it",
    "operators/substring.py:substring_dedup_clean":
        "ROADMAP item 5; q:substring_dedup_spans runs its span kernel",
    "operators/zonemap.py:pruned_scan":
        "ROADMAP item 5; q:build_zonemap runs prune_files, which it wraps",
}


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _referenced_names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_no_package_function_is_test_only():
    """Every top-level def in the package is reached from production
    code: a Name, Attribute or ``import … as`` alias names it from the
    package (outside the def itself and ``__init__`` re-exports),
    ``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``,
    or it carries a decorator (``@register``).  Code that only tests
    call has to go, or be listed with its owner above."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "survivor_processing_spark")

    def py_files(root):
        if root.endswith(".py"):
            return [root]
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".py")
        )

    defs, refs = set(), set()
    for path in py_files(pkg):
        rel = os.path.relpath(path, pkg)
        for st in _parse(path).body:
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                defs.add(f"{rel}:{st.name}")
                body = _referenced_names(st) - {st.name}
                refs |= body | ({st.name} if st.decorator_list else set())
            elif not (
                rel.endswith("__init__.py") and isinstance(st, ast.ImportFrom)
            ):
                refs |= _referenced_names(st)
    for extra in ("tools", "perfbench", "bench.py", "__spark_entry__.py"):
        for path in py_files(os.path.join(repo, extra)):
            refs |= _referenced_names(_parse(path))
    unreached = {k for k in defs if k.split(":", 1)[1] not in refs}
    assert sorted(unreached - set(_UNREACHED_ALLOWLIST)) == []
    assert sorted(set(_UNREACHED_ALLOWLIST) - unreached) == []


def test_one_landing_path_for_snapshot_writers():
    """New files enter a snapshot table through one rollback scope,
    ``operators/snapshot.py`` ``Landing``: no other function of the
    three writer modules renames staged parts or catches
    ``BaseException`` for a hand-rolled rollback.
    ``_atomic_overwrite`` (the whole-table swap of ``MergeTable``) is
    the one other renamer."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allowed = {"Landing.land", "Landing.__exit__", "_atomic_overwrite"}
    found = []
    for rel in ("operators/snapshot.py", "operators/mor.py", "sinks/merge.py"):
        tree = _parse(os.path.join(repo, "survivor_processing_spark", rel))
        scopes = [
            (n.name, n) for n in tree.body if isinstance(n, ast.FunctionDef)
        ]
        scopes += [
            (f"{c.name}.{n.name}", n)
            for c in tree.body
            if isinstance(c, ast.ClassDef)
            for n in c.body
            if isinstance(n, ast.FunctionDef)
        ]
        for qual, fn in scopes:
            if qual in allowed:
                continue
            for node in ast.walk(fn):
                renames = (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "rename"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                )
                # a bare ``except:`` catches BaseException too
                catches = isinstance(node, ast.ExceptHandler) and (
                    node.type is None
                    or "BaseException" in {
                        t.id
                        for t in ast.walk(node.type)
                        if isinstance(t, ast.Name)
                    }
                )
                if renames or catches:
                    found.append(f"{rel}:{qual}:{node.lineno}")
    assert found == []
