"""Corpus retrieval primitives: inverted index construction and BM25
term weighting — the search/ranking members of the text family, next
to TF-IDF (q:tfidf_top_terms) and the dedup/ANN stacks.

Why they belong in a training-data engine: retrieval-based curation
(fetch the most on-topic documents for a seed set), hard-negative
mining for embedding models, and decontamination triage all start
with "build an inverted index over the corpus, score candidates with
BM25".  The reference pipeline has no retrieval stage at all (its
text handling stops at per-cell normalization — see
survivor_processing/processing/helpers.py); this module is part of
the beyond-reference training-data mandate.

Spark-first shapes:

- :func:`inverted_postings` is one tokenize+explode pass, a
  ``groupBy(doc, token)`` tf aggregate (map-side combined), then a
  ``groupBy(token)`` that assembles the posting list.  The posting
  payload itself must move to the token's reducer — that is what
  building an index IS — so the plan's job is to keep everything
  else out of the shuffle: tf rows are (doc_id, token, tf) triples,
  and stopword-class tokens are cut EARLY by ``max_df`` pre-filter on
  the document-frequency table before postings are assembled.
- :func:`bm25_doc_term_scores` keeps every score per (doc, term) ROW
  — never a float SUM across terms, whose partition-dependent
  addition order would make the result nondeterministic even within
  one engine.  The saturation factor is carried as an EXACT integer
  rational (see below); the one float (idf, a single ln) follows the
  q:tfidf_top_terms precedent that is hash-green across engines.
- :func:`bm25_query_topk` is the float serving path (real search):
  it does sum scores across query terms, so it is unit-tested with a
  tolerance, documented non-gateable, and NOT oracle-registered.

Exact-rational saturation: with k1 = k1n/k1d and b = bn/bd rational,

    sat = tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/Σdl))

multiplied through by k1d·bd·Σdl becomes integer/integer:

    sat_num = (k1n + k1d)·bd · tf · Σdl
    sat_den = k1d·bd · tf · Σdl + k1n·(bd − bn)·Σdl + k1n·bn·dl·N

(all BIGINT; every term is a product of exact counts).  Overflow
headroom: tf·Σdl must stay under ~2⁶³/44 ≈ 2·10¹⁷ — fine to ~10¹³
total corpus tokens with tf ≤ 10⁴; past that, divide both lanes by
gcd or bucket Σdl (documented, not silently wrong: lanes are emitted
raw so downstream can check magnitude).

Portability: tokenization is the engine-wide convention
(lower/trim/collapse-whitespace/split — operators/dedup.py), posting
lists serialize as a deterministic sorted string (struct-array
hashing differs across engine→pandas paths), ordering keys are exact
integers/strings only, and the ``*_oracle`` functions mechanically
generate the DuckDB replay from the same parameters.
tests/test_retrieval.py pins Spark == DuckDB on fixed, sf0.001, and
randomized corpora.
"""

from __future__ import annotations

from math import gcd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .dedup import spread, tokens_expr

_TOKENIZE_SQL = (
    "string_split(regexp_replace(lower(trim({text_col})), "
    "'\\s+', ' ', 'g'), ' ')"
)


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token, tf) with the engine-wide tokenization; empty
    tokens dropped.  One explode + one map-side-combined aggregate."""
    return (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_expr(text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def inverted_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted index: one row per surviving token with ``df_docs``
    (document frequency), ``cf`` (collection frequency = Σtf), and
    ``postings`` — the posting list serialized ``"doc:tf doc:tf ..."``
    sorted by doc_id (deterministic; struct arrays hash differently
    across engine→pandas paths, strings do not).

    ``max_df`` cuts stopword-class tokens BEFORE posting assembly —
    at corpus scale the heavy hitters are exactly the tokens whose
    postings are useless for retrieval and dominate the shuffle.
    Serving note: a petabyte index additionally range-shards each
    posting list by doc_id; the sorted-string contract makes that a
    substring split, not a re-sort.

    Plan shape (r13 optimization): ``df_docs``/``cf`` are WINDOW
    aggregates over the token partition instead of a separate
    ``groupBy(token)`` joined back — the corpus is scanned+tokenized
    ONCE (the join-back plan tokenized it twice: Spark recomputes
    un-cached lineage per branch), the join disappears, and the
    final posting ``groupBy(token, ...)`` reuses the window's
    partitioning (no extra exchange)."""
    tf = term_frequencies(df, text_col, id_col)
    w_tok = Window.partitionBy("token")
    keep = (
        tf.withColumn("df_docs", F.count(F.lit(1)).over(w_tok))
        .withColumn("cf", F.sum("tf").over(w_tok))
        .filter(F.col("df_docs") >= min_df)
    )
    if max_df is not None:
        keep = keep.filter(F.col("df_docs") <= max_df)
    return (
        keep.groupBy("token", "df_docs", "cf")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["doc_id"].cast("string"),
                        s["tf"].cast("string"),
                    ),
                ),
                " ",
            ).alias("postings")
        )
    )


def _sat_coeffs(
    k1_num: int, k1_den: int, b_num: int, b_den: int
) -> tuple[int, int, int, int]:
    """Integer coefficients (cn, cd_tf, cd_const, cd_dl) of the exact
    saturation rational:
    num = cn·tf·Σdl; den = cd_tf·tf·Σdl + cd_const·Σdl + cd_dl·dl·N,
    reduced by their common gcd."""
    cn = (k1_num + k1_den) * b_den
    cd_tf = k1_den * b_den
    cd_const = k1_num * (b_den - b_num)
    cd_dl = k1_num * b_num
    g = gcd(gcd(cn, cd_tf), gcd(cd_const, cd_dl)) or 1
    return cn // g, cd_tf // g, cd_const // g, cd_dl // g


def bm25_doc_term_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
    top_terms: int = 3,
) -> DataFrame:
    """Per-(doc, term) BM25 weights for the document's ``top_terms``
    terms (ranked by the exact keys tf desc, df asc, token — the
    q:tfidf_top_terms convention; never by a float).

    Output: ``doc_id, token, tf, df_docs, sat_num, sat_den
    (exact-rational tf saturation, BIGINT lanes), idf6
    (round(ln(1+(N−df+0.5)/(df+0.5)), 6) — the Lucene non-negative
    form), bm25_6 (round(idf·sat, 6))``.
    The float columns are single fixed-association expressions, so
    both engines run the identical IEEE op sequence (the tfidf
    precedent); the rational lanes let downstream recombine exactly.

    Plan shape (r13 optimization): ``df_docs`` and ``dl`` are WINDOW
    aggregates over the token / doc partitions instead of separate
    ``groupBy`` branches joined back — the un-cached join-back plan
    tokenized the corpus FOUR times (Spark recomputes lineage per
    branch; r13 plan audit).  The corpus totals (n_docs, sum_dl) come
    from one extra LIGHT pass that never explodes tokens — per-doc
    token counts are ``size(filter(tokens, ...))`` — and broadcast
    into the stream.  Window order matters: the token window runs
    first so the doc window leaves the stream partitioned by doc_id
    and the final top-terms ranking window adds NO exchange.  Net:
    4 corpus tokenizations + 2 joins → 1 tokenization + 1 light
    scan, zero equi-joins."""
    cn, cd_tf, cd_const, cd_dl = _sat_coeffs(k1_num, k1_den, b_num, b_den)
    tf = term_frequencies(df, text_col, id_col)
    # totals replayed WITHOUT the token explode: dl per doc is the
    # count of non-empty tokens (identical to sum(tf) — tf partitions
    # that count by token); docs with zero non-empty tokens have no
    # tf rows, so they contribute to neither n_docs nor sum_dl.
    # size() is -1 for a NULL array (NULL text) — greatest(..., 0)
    # pins that contribution to the 0 the tf lineage produces.
    n_tok = F.greatest(
        F.size(F.filter(tokens_expr(text_col), lambda t: t != "")),
        F.lit(0),
    )
    totals = (
        spread(df)
        .select(n_tok.alias("_n"))
        .agg(
            F.count(F.when(F.col("_n") > 0, True)).alias("n_docs"),
            F.sum("_n").cast("bigint").alias("sum_dl"),
        )
    )
    scored = (
        tf.withColumn(
            "df_docs", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "token",
            "tf",
            "df_docs",
            (F.lit(cn) * F.col("tf") * F.col("sum_dl")).alias("sat_num"),
            (
                F.lit(cd_tf) * F.col("tf") * F.col("sum_dl")
                + F.lit(cd_const) * F.col("sum_dl")
                + F.lit(cd_dl) * F.col("dl") * F.col("n_docs")
            ).alias("sat_den"),
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df_docs") + 0.5)
                    / (F.col("df_docs") + 0.5)
                ),
                6,
            ).alias("idf6"),
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df_docs") + 0.5)
                    / (F.col("df_docs") + 0.5)
                )
                * (
                    (F.lit(cn) * F.col("tf") * F.col("sum_dl")).cast(
                        "double"
                    )
                    / (
                        F.lit(cd_tf) * F.col("tf") * F.col("sum_dl")
                        + F.lit(cd_const) * F.col("sum_dl")
                        + F.lit(cd_dl) * F.col("dl") * F.col("n_docs")
                    ).cast("double")
                ),
                6,
            ).alias("bm25_6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df_docs"), F.col("token")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_terms)
        .drop("_r")
    )


def bm25_query_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """Real BM25 search: top-``topk`` documents for a bag of query
    terms.  FLOAT path — the per-doc score sums float idf·sat terms,
    and float addition order is partition-dependent, so this operator
    is deliberately NOT oracle-gateable (unit-tested against a Python
    recomputation with tolerance instead; the gateable evidence for
    the BM25 math is :func:`bm25_doc_term_scores`).  Ties and the
    final order break on the exact doc_id.

    Plan: the query-term set is tiny → broadcast it into the tf join;
    everything before the final TakeOrdered is one tf pass plus two
    broadcast joins."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    spark = df.sparkSession
    from ..functions.localrel import local_rows_df

    terms = local_rows_df(
        spark, [(t,) for t in sorted(set(query_terms))], "token string"
    )
    tf = term_frequencies(df, text_col, id_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    hit = (
        tf.join(F.broadcast(terms), "token")
        .join(F.broadcast(dfreq.join(F.broadcast(terms), "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_docs") + 0.5)
        / (F.col("df_docs") + 0.5)
    )
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    return (
        hit.select("doc_id", (idf * sat).alias("_s"))
        .groupBy("doc_id")
        .agg(F.sum("_s").alias("score"), F.count(F.lit(1)).alias("n_hit"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(topk)
    )


def _tf_cte(table: str, text_col: str, id_col: str) -> str:
    tok = _TOKENIZE_SQL.format(text_col=text_col)
    return f"""w AS (
    SELECT {id_col} AS doc_id, {tok} AS words FROM {table}
), tf AS (
    SELECT doc_id, word AS token, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(words) AS word FROM w)
    WHERE word != ''
    GROUP BY doc_id, word
)"""


def inverted_postings_oracle(
    min_df: int = 1,
    max_df: int | None = None,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`inverted_postings` from the same parameters."""
    max_df_pred = f"AND COUNT(*) <= {max_df}" if max_df is not None else ""
    return f"""WITH {_tf_cte(table, text_col, id_col)}, keep AS (
    SELECT token,
           COUNT(*) AS df_docs,
           CAST(SUM(tf) AS BIGINT) AS cf
    FROM tf GROUP BY token
    HAVING COUNT(*) >= {min_df} {max_df_pred}
)
SELECT k.token, k.df_docs, k.cf,
       string_agg(t.doc_id || ':' || t.tf, ' ' ORDER BY t.doc_id)
           AS postings
FROM keep k JOIN tf t ON t.token = k.token
GROUP BY k.token, k.df_docs, k.cf"""


def bm25_scores_oracle(
    k1_num: int = 6,
    k1_den: int = 5,
    b_num: int = 3,
    b_den: int = 4,
    top_terms: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`bm25_doc_term_scores` from the same parameters (identical
    float association order, exact lanes)."""
    cn, cd_tf, cd_const, cd_dl = _sat_coeffs(k1_num, k1_den, b_num, b_den)
    return f"""WITH {_tf_cte(table, text_col, id_col)}, dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
    SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY token
), totals AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
), scored AS (
    SELECT t.doc_id, t.token, CAST(t.tf AS BIGINT) AS tf,
           f.df_docs,
           CAST({cn} * t.tf * x.sum_dl AS BIGINT) AS sat_num,
           CAST({cd_tf} * t.tf * x.sum_dl
                + {cd_const} * x.sum_dl
                + {cd_dl} * d.dl * x.n_docs AS BIGINT) AS sat_den,
           round(ln(1.0 + (x.n_docs - f.df_docs + 0.5)
                          / (f.df_docs + 0.5)), 6)
               AS idf6,
           round(ln(1.0 + (x.n_docs - f.df_docs + 0.5)
                          / (f.df_docs + 0.5))
                 * (CAST({cn} * t.tf * x.sum_dl AS DOUBLE)
                    / CAST({cd_tf} * t.tf * x.sum_dl
                           + {cd_const} * x.sum_dl
                           + {cd_dl} * d.dl * x.n_docs AS DOUBLE)), 6)
               AS bm25_6,
           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                              ORDER BY t.tf DESC, f.df_docs, t.token) AS r
    FROM tf t
    JOIN dfreq f ON f.token = t.token
    JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN totals x
)
SELECT doc_id, token, tf, df_docs, sat_num, sat_den, idf6, bm25_6
FROM scored WHERE r <= {top_terms}"""
