"""Property test: the engine-portable full-Lloyd k-means and its
mechanically generated DuckDB oracle agree BIT-FOR-BIT on random
inputs — negatives, duplicate and zero vectors (md5-seed ties
impossible, distance ties plenty), tiny dims, clusters that lose all
members.
The sf0.01 gate proves one corpus; this pins the cross-engine
contract on adversarial shapes hypothesis finds."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from survivor_processing_spark.operators.cluster import kmeans_lloyd_portable
from survivor_processing_spark.queries.llm_ann import _lloyd_portable_oracle

COMP = st.floats(
    min_value=-1.0, max_value=1.0, allow_nan=False, allow_infinity=False
)


def _oracle(vecs: list[list[float]], k: int, iters: int) -> dict[int, int]:
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
        ),
    )
    sql = _lloyd_portable_oracle(k=k, iters=iters, dim=len(vecs[0]))
    return dict(con.execute(sql).fetchall())


@seed(20260814)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    n=st.integers(min_value=3, max_value=30),
    dim=st.integers(min_value=2, max_value=8),
    k=st.integers(min_value=2, max_value=5),
    iters=st.integers(min_value=1, max_value=3),
)
def test_lloyd_portable_matches_duckdb(spark, data, n, dim, k, iters):
    vecs = data.draw(
        st.lists(
            st.lists(COMP, min_size=dim, max_size=dim),
            min_size=n,
            max_size=n,
        )
    )
    if n > 4:  # distance-tie stress: an exact duplicate and a zero vector
        vecs[1] = list(vecs[0])
        vecs[2] = [0.0] * dim
    k = min(k, n)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["cluster_idx"]
        for r in kmeans_lloyd_portable(
            df, "embedding", "vec_id", k=k, iters=iters
        ).collect()
    }
    want = _oracle(vecs, k=k, iters=iters)
    assert got == want
