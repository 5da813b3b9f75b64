"""Exact substring-span dedup: find every duplicated token n-gram
in the corpus and emit merged removal spans (and optionally the
cleaned text with those spans cut out).

This is the ExactSubstr member of the dedup family (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL
2022): document-level dedup (q:exact_dedup_docs, q:minhash_lsh_pairs)
misses the boilerplate CASE — license headers, navigation chrome,
quoted tweets — where only a *substring* repeats across otherwise
distinct documents.  The paper finds such spans in ~1% of C4 tokens
and removes every occurrence of any length-≥50-token substring that
appears twice.  The reference pipeline has no corpus stage at all
(its string ops stop at per-cell normalization, e.g.
survivor_processing/processing/helpers.py general_helpers); this
operator is part of the beyond-reference training-data mandate,
alongside paragraph dedup (operators/dedup.py:156) which handles the
newline-delimited special case only.

Spark-first shape — the distributed-SQL equivalent of the paper's
suffix array:

1. one corpus pass builds the positional n-gram table: ``split``,
   ``explode(sequence(...))`` of the position index only, then a
   row-level ``md5(concat_ws(slice(...)))`` — the hash runs in
   whole-stage codegen, NOT inside an interpreted ``transform``
   lambda (that variant measured ~20x slower on the gram pass); one
   row per token position, the token-count-linear table a suffix
   array would index;
2. duplicated grams are found with ``groupBy(gram_hash).count()`` —
   map-side partial aggregation collapses the heavy-duplication case
   (the exact case we are hunting) BEFORE the shuffle, so a corpus
   that is 50% boilerplate shuffles ~0.5× its token count, not 1×,
   and a pathological single-hot-gram corpus cannot create a hot
   reduce task (a window count over gh would);
3. the surviving duplicate-hash set is joined back to the positional
   table on the hash — it is duplication-bounded (≪ grams for real
   corpora), so AQE picks a broadcast hash join at typical rates and
   falls back to a shuffle join (uniform keys: they are md5 hashes)
   when boilerplate is rampant;
4. per-document interval merge of the [pos, pos+n) hits is one
   window over doc_id — span counts are document-length-bounded, so
   the window cannot be hot.

At 100 TB: the positional table is the dominant shuffle (one row per
token).  n is the knob — the paper uses n=50 tokens, at which gram
hashes are effectively unique and the groupBy output is tiny; the
md5 can be narrowed to ``unhex(md5)`` (16 bytes) to halve shuffle
width if needed (kept hex here for oracle portability).

Portability: tokenization is the engine-wide convention
(lower/trim/collapse-whitespace/split — operators/dedup.py:94),
hashes are md5 (never xxhash64 in a gated path), the interval merge
is the standard running-max window with total ordering (positions
are distinct per doc after the hash join), and
:func:`substring_spans_oracle` / :func:`substring_clean_oracle`
mechanically generate the DuckDB replay from the same parameters.
tests/test_substring.py pins Spark == DuckDB on fixed, sf0.001, and
randomized corpora (planted boilerplate, within-doc repeats, random
n and min_count; spans and cleaned text).

Removal semantics: EVERY occurrence of a duplicated n-gram is
removed (the paper notes dropping all copies of duplicated spans is
safe because the surrounding text survives).  A keep-one-canonical
variant would exempt the (md5-smallest doc_id, pos) occurrence per
hash before the merge — same plan shape — but partially-overlapping
kept/removed spans make its contract murky; not built until a user
needs it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .dedup import spread, tokens_expr

_TOKENIZE_SQL = (
    "string_split(regexp_replace(lower(trim({text_col})), "
    "'\\s+', ' ', 'g'), ' ')"
)


def duplicate_ngram_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Every positional occurrence of a token ``n``-gram that appears
    at least ``min_count`` times corpus-wide (all positions count,
    including repeats inside one document — that is the boilerplate
    case).  Returns ``doc_id, pos (1-based token index), gh (md5 of
    the gram), n_occurrences``.  Documents shorter than ``n`` tokens
    emit nothing (strict n-grams, same rule as
    dedup.ngrams_from_words)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    docs = df.select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("words")
    )
    docs = spread(docs)
    # Explode ONLY the position sequence, then hash at row level: the
    # per-gram slice/concat/md5 runs in whole-stage codegen instead of
    # inside an interpreted transform() lambda (~20x on the gram pass;
    # the [[interpreted-hof-lesson]] applied to explode-producing HOFs).
    grams = (
        docs.filter(F.expr(f"size(words) >= {n}"))
        .select(
            "doc_id",
            "words",
            F.expr(f"explode(sequence(1, size(words) - {n - 1}))").alias(
                "pos"
            ),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.expr(f"concat_ws(' ', slice(words, pos, {n}))")).alias(
                "gh"
            ),
        )
    )
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    return grams.join(dup_hashes, "gh").select(
        "doc_id", "pos", "gh", "n_occurrences"
    )


def merge_token_spans(occurrences: DataFrame, n: int) -> DataFrame:
    """Merge the per-document [pos, pos+n) hit windows into maximal
    removal spans (overlapping OR touching spans coalesce).  Input
    needs ``doc_id, pos``; returns ``doc_id, span_start, span_end
    (exclusive, 1-based token indices), span_tokens``.

    Classic running-max interval merge: a hit starts a new span iff
    its pos lies strictly past the max end of every earlier hit in
    the document.  Positions are distinct per doc (one row per
    position survives the hash join), so the ``orderBy(pos)`` is a
    total order and the result is engine-portable."""
    spans = occurrences.select("doc_id", "pos").distinct()
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = spans.withColumn(
        "new_grp",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + n).over(w_prev), F.lit(-1))
        ).cast("int"),
    ).withColumn("grp", F.sum("new_grp").over(w_run))
    return flagged.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        (F.max("pos") + n - F.min("pos")).alias("span_tokens"),
    ).drop("grp")


def substring_dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Merged removal spans of duplicated ``n``-token substrings:
    ``doc_id, span_start, span_end, span_tokens``."""
    occ = duplicate_ngram_occurrences(df, text_col, id_col, n, min_count)
    return merge_token_spans(occ, n)


def substring_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Documents with every duplicated-substring span cut out:
    ``doc_id, clean_text, n_tokens (pre-cut), n_removed_tokens``.
    Token order is preserved; a document that is pure boilerplate
    comes back with ``clean_text = ''``.

    The cut is a JVM ``filter(words, (w, i) -> ...)`` against the
    document's own merged span list (collected per doc — span counts
    are doc-length-bounded, so the array is small), joined back
    broadcast-style; no Python touches the hot path."""
    spans = substring_dedup_spans(df, text_col, id_col, n, min_count)
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
    )
    words = spread(
        df.select(
            F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("words")
        )
    )
    joined = words.join(per_doc, "doc_id", "left")
    kept = F.expr(
        "filter(words, (w, i) -> spans is null or not exists("
        "  spans, s -> i + 1 >= s.span_start and i + 1 < s.span_end))"
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("words").alias("n_tokens"),
        (F.size("words") - F.size(kept)).alias("n_removed_tokens"),
    )


def _spans_cte(
    n: int,
    min_count: int,
    table: str,
    text_col: str,
    id_col: str,
) -> str:
    """Shared CTE chain up to the merged spans (DuckDB)."""
    tok = _TOKENIZE_SQL.format(text_col=text_col)
    return f"""w AS (
    SELECT {id_col} AS doc_id, {tok} AS words
    FROM {table}
), occ AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(words[i:i+{n - 1}], ' ')) AS gh
    FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(words) - {n - 1})) AS i
    )
    WHERE len(words) >= {n}
), dup AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS c FROM occ
    ) WHERE c >= {min_count}
), flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos > COALESCE(MAX(pos + {n}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_grp
    FROM dup
), grp AS (
    SELECT doc_id, pos,
           SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS g
    FROM flagged
), spans AS (
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + {n} AS span_end,
           MAX(pos) + {n} - MIN(pos) AS span_tokens
    FROM grp GROUP BY doc_id, g
)"""


def substring_spans_oracle(
    n: int = 8,
    min_count: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`substring_dedup_spans` from the same parameters."""
    cte = _spans_cte(n, min_count, table, text_col, id_col)
    return (
        f"WITH {cte}\n"
        "SELECT doc_id, span_start, span_end, span_tokens FROM spans"
    )


def substring_clean_oracle(
    n: int = 8,
    min_count: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`substring_dedup_clean` from the same parameters."""
    cte = _spans_cte(n, min_count, table, text_col, id_col)
    return f"""WITH {cte}, tok AS (
    SELECT doc_id, unnest(words) AS word,
           generate_subscripts(words, 1) AS i
    FROM w
), kept AS (
    SELECT t.doc_id, t.word, t.i
    FROM tok t LEFT JOIN spans s
      ON s.doc_id = t.doc_id
     AND t.i >= s.span_start AND t.i < s.span_end
    WHERE s.doc_id IS NULL
)
SELECT w.doc_id,
       COALESCE(string_agg(k.word, ' ' ORDER BY k.i), '') AS clean_text,
       len(w.words) AS n_tokens,
       len(w.words) - COUNT(k.word) AS n_removed_tokens
FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id
GROUP BY w.doc_id, len(w.words)"""
