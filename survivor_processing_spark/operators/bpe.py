"""Distributed BPE tokenizer training — iterative pair-count +
merge over a word-frequency table.

Tokenizer training is the step of an LLM data pipeline that runs
BEFORE tokenization: learn the merge table from the corpus itself
(Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units", ACL 2016 — the public BPE-for-NLP paper).  The
reference pipeline has no tokenizer stage (its corpus ops stop at
string normalization, e.g. create_dict_based_df-style mappings);
this operator is part of the training-data extension family
alongside token counting (q:token_budget_mix) and sequence packing
(q:pack_sequences).

Scale shape (the classic trick that makes corpus-scale BPE cheap):
train on the WORD-FREQUENCY table, not the raw corpus.

1. one corpus pass: ``split`` + ``explode`` + ``groupBy(word)`` —
   a single shuffle with map-side combine; the result is
   vocabulary-sized (≪ corpus, even at 100 TB it is millions of
   distinct words, not billions of documents);
2. each of the ``n_merges`` iterations touches ONLY that table:
   adjacent-pair extraction is a JVM ``zip_with``/``slice``
   expression, the count is one vocabulary-bounded shuffle, and
   exactly ONE row (the argmax pair) crosses to the driver per
   iteration — driver traffic is ``n_merges`` rows total;
3. the winning pair is applied as one parsed ``replace`` expression
   chain with the pair embedded as a string literal (the py4j
   literal lesson: never per-element ``lit()``), so merge
   application is whole-stage-codegen'd JVM work;
4. the working set is pinned with ``localCheckpoint`` per iteration
   to truncate the growing lineage (single-JVM test scale; on a
   real cluster persist(MEMORY_AND_DISK) + unpersist of the
   previous iteration is the right call — same note as
   operators/cluster.py Lloyd).

Merge application semantics: a merge of pair (l, r) rewrites the
space-delimited symbol string by ``replace(seq, ' l r ', ' lr ')``
repeated ``fixpoint_passes`` times.  Single-pass ``replace`` is
non-overlapping left-to-right, and adjacent occurrences share their
boundary space, so one pass can miss every other occurrence; a
replacement can never CREATE a new occurrence of the same pattern
(l||r cannot equal l or r), so occurrences strictly decrease and
``max_word_len // 2`` passes guarantee the fixpoint.  The fixpoint
equals canonical greedy left-to-right BPE merging (including the
self-overlap chain 'a a a' -> 'aa a').

Determinism / portability (cross-engine hash-gate ready):
tie-breaks are total (count DESC, lhs ASC, rhs ASC), symbols are
restricted to ``^[a-z]+$`` so embedding them in SQL literals is
injection-safe, and ``bpe_portable_oracle`` mechanically GENERATES
the equivalent DuckDB SQL from the same loop parameters — one CTE
block per iteration, the same technique as
queries/llm_ann.py:_lloyd_portable_oracle — so the oracle cannot drift
from the code.  tests/test_bpe.py pins Spark == DuckDB on fixed and
randomized corpora.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_SYMBOL_RE = re.compile(r"^[a-z]+$")

# adjacent-pair extraction from the space-joined symbol string, all
# JVM-side: toks[0:n-1] zipped with toks[1:n] (empty when n == 1)
_PAIRS_EXPR = (
    "zip_with("
    " slice(split(trim(seq), ' '), 1, size(split(trim(seq), ' ')) - 1),"
    " slice(split(trim(seq), ' '), 2, size(split(trim(seq), ' ')) - 1),"
    " (a, b) -> struct(a AS lhs, b AS rhs))"
)


def _merge_expr(lhs: str, rhs: str, passes: int) -> str:
    """One parsed SQL expression applying the (lhs, rhs) merge to
    ``seq`` with ``passes`` fixpoint passes (see module doc)."""
    if not (_SYMBOL_RE.match(lhs) and _SYMBOL_RE.match(rhs)):
        raise ValueError(f"non-[a-z] BPE symbol: {lhs!r}, {rhs!r}")
    expr = "seq"
    for _ in range(passes):
        expr = f"replace({expr}, ' {lhs} {rhs} ', ' {lhs}{rhs} ')"
    return expr


def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    max_word_len: int = 16,
    max_vocab: int | None = None,
) -> DataFrame:
    """Corpus -> (word, freq): the one corpus-sized pass.

    ``max_vocab`` keeps the top-V words by (freq DESC, word ASC) —
    a deterministic, engine-portable cap that bounds every later
    iteration at tokenizer-training time (standard practice when
    the tail of the vocabulary cannot affect the first merges)."""
    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(
            (F.length("word") >= 1)
            & (F.length("word") <= max_word_len)
            & F.col("word").rlike("^[a-z]+$")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_vocab is not None:
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("freq"), F.asc("word"))
        words = (
            words.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_vocab)
            .drop("rn")
        )
    return words


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_word_len: int = 16,
    max_vocab: int | None = None,
    fixpoint_passes: int | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from ``df[text_col]``.

    Returns a ``merge_rank int, lhs string, rhs string,
    pair_count bigint`` DataFrame — the merge table, in learning
    order.  Stops early (fewer rows) only if the vocabulary runs
    out of adjacent pairs, which no realistic corpus does at the
    gate configs."""
    merges = _bpe_train_merges(
        df,
        text_col=text_col,
        n_merges=n_merges,
        max_word_len=max_word_len,
        max_vocab=max_vocab,
        fixpoint_passes=fixpoint_passes,
    )
    return df.sparkSession.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_word_len: int = 16,
    max_vocab: int | None = None,
    fixpoint_passes: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """The training loop itself, returning the merge table as the
    driver-local list it natively is (``n_merges`` rows — ONE row
    crosses to the driver per iteration).  ``bpe_train`` wraps it in
    a DataFrame for the public API; ``bpe_token_budget`` consumes
    the list directly, skipping a createDataFrame → sort → collect
    round trip over the default-parallelism partitioning (3 driver
    jobs for 8 rows)."""
    passes = (
        fixpoint_passes if fixpoint_passes is not None else max_word_len // 2
    )
    vocab = word_frequencies(
        df, text_col=text_col, max_word_len=max_word_len, max_vocab=max_vocab
    ).withColumn(
        "seq",
        F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")),
    ).select("freq", "seq")

    merges: list[tuple[int, str, str, int]] = []
    for t in range(n_merges):
        # truncate lineage every FOURTH iteration, not every one: a
        # checkpoint is a driver job + materialization round trip
        # (~0.15 s each locally), while letting up to 3 merge
        # applications re-run per collect is vocabulary-bounded JVM
        # work (measured at sf0.1: per-iteration checkpointing 1.8 s,
        # every-4 1.35 s, same merge table; unbounded lineage is the
        # plan-growth risk at high n_merges, so not never)
        if t % 4 == 0:
            vocab = vocab.localCheckpoint()
        best = (
            vocab.select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy(
                F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
            )
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
        merges.append((t, lhs, rhs, int(cnt)))
        vocab = vocab.withColumn("seq", F.expr(_merge_expr(lhs, rhs, passes)))

    return merges


def bpe_encode_counts(
    df: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    encode_max_len: int = 32,
) -> DataFrame:
    """Apply a trained merge table to the corpus and count tokens per
    document: ``doc_id, n_tokens, n_words, n_oov_words``.

    The scale trick mirrors training: encode each DISTINCT word once
    (vocabulary-sized work), then join the per-word token count back
    to the per-document word counts — the corpus-sized side never
    runs a merge.  The encoded vocabulary is broadcast (millions of
    (word, int) rows ≈ tens of MB at 100 TB corpus scale; drop the
    hint and let AQE decide if a pathological vocabulary outgrows
    that).

    Encoding semantics: a word is ELIGIBLE if it matches ``^[a-z]+$``
    and is at most ``encode_max_len`` chars (unlike training's
    ``max_word_len``, which bounds iteration cost, this bound exists
    only to fix the replace-to-fixpoint pass count
    ``encode_max_len // 2`` — see the module doc's occurrence
    argument).  Eligible words are char-split and every merge is
    applied in rank order, each to fixpoint.  Every other word
    (digits, punctuation, over-long) counts as ONE out-of-vocabulary
    token — the byte-fallback analog, kept at 1 so ``n_tokens`` is a
    budget, not an estimate, and flagged in ``n_oov_words``.
    Documents with no words (empty text) come back with zeros.

    ``merges`` may be the :func:`bpe_train` output DataFrame or a
    pre-collected ``[(lhs, rhs), ...]`` in rank order; the table is
    n_merges-bounded so collecting it is driver-safe.  The whole
    merge chain is built as ONE parsed SQL expression (the py4j
    literal lesson), symbols validated ``^[a-z]+$`` so embedding
    them is injection-safe."""
    if isinstance(merges, DataFrame):
        merges = [
            (r["lhs"], r["rhs"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    passes = max(1, encode_max_len // 2)
    chain = "seq"
    for lhs, rhs in merges:
        if not (_SYMBOL_RE.match(lhs) and _SYMBOL_RE.match(rhs)):
            raise ValueError(f"non-[a-z] BPE symbol: {lhs!r}, {rhs!r}")
        for _ in range(passes):
            chain = f"replace({chain}, ' {lhs} {rhs} ', ' {lhs}{rhs} ')"

    dw = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
                "word"
            ),
        )
        .filter(F.length("word") >= 1)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # dw feeds BOTH the eligible-vocabulary derivation and the
        # final join; without pinning, each consumer re-runs the full
        # corpus tokenize + shuffle (the plan showed two parquet
        # scans of the corpus, no ReusedExchange).  A lazy local
        # checkpoint materializes the doc-word counts once at first
        # use — on a cluster this is the persist(MEMORY_AND_DISK)
        # point (same note as the train loop / Lloyd)
        .localCheckpoint(eager=False)
    )
    eligible = (
        dw.select("word")
        .distinct()
        .filter(
            F.col("word").rlike("^[a-z]+$")
            & (F.length("word") <= encode_max_len)
        )
    )
    encoded = (
        eligible.withColumn(
            "seq",
            F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")),
        )
        .withColumn(
            "n_tok",
            F.expr(f"size(split(trim({chain}), ' '))").cast("long"),
        )
        .select("word", "n_tok")
    )
    agg = (
        dw.join(F.broadcast(encoded), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("n_tok"), F.lit(1))
            ).alias("n_tokens"),
            F.sum("cnt").alias("n_words"),
            F.sum(
                F.when(F.col("n_tok").isNull(), F.col("cnt")).otherwise(0)
            ).alias("n_oov_words"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_oov_words", F.lit(0)).alias("n_oov_words"),
        )
    )


def bpe_token_budget(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
    max_word_len: int = 16,
    max_vocab: int | None = None,
    encode_max_len: int = 32,
) -> DataFrame:
    """Train-then-encode composition: learn ``n_merges`` merges from
    the corpus, then tokenize it — the registered-query shape (the
    token-budget accounting a training-data pipeline runs after
    tokenizer training).  See :func:`bpe_encode_counts`."""
    merges = _bpe_train_merges(
        df,
        text_col=text_col,
        n_merges=n_merges,
        max_word_len=max_word_len,
        max_vocab=max_vocab,
    )
    return bpe_encode_counts(
        df,
        [(lhs, rhs) for _rank, lhs, rhs, _cnt in merges],
        text_col=text_col,
        id_col=id_col,
        encode_max_len=encode_max_len,
    )


def _train_ctes(
    n_merges: int,
    max_word_len: int,
    max_vocab: int | None,
    passes: int,
    table: str,
    text_col: str,
) -> str:
    """The shared training CTE chain (words_all .. v{n_merges} with
    one (p, b, v) block per iteration), used by both oracles."""
    vocab_filter = ""
    if max_vocab is not None:
        vocab_filter = f"""
words AS (
    SELECT word, freq FROM words_all
    ORDER BY freq DESC, word ASC
    LIMIT {int(max_vocab)}
),"""
    parts = [
        f"""WITH words_all AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(lower({text_col}), '\\s+'))
                 AS word
          FROM {table}) t
    WHERE length(word) BETWEEN 1 AND {int(max_word_len)}
      AND regexp_matches(word, '^[a-z]+$')
    GROUP BY word
),{vocab_filter if max_vocab is not None else ''}
v0 AS (
    SELECT freq,
           ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
    FROM {'words' if max_vocab is not None else 'words_all'}
)"""
    ]
    for t in range(n_merges):
        parts.append(
            f""",
p{t} AS (
    SELECT toks[i] AS lhs, toks[i + 1] AS rhs,
           CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM (SELECT freq, string_split(trim(seq), ' ') AS toks FROM v{t}) s,
         LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
    GROUP BY 1, 2
),
b{t} AS (
    SELECT lhs, rhs, pair_count
    FROM p{t}
    ORDER BY pair_count DESC, lhs ASC, rhs ASC
    LIMIT 1
)"""
        )
        rep = "seq"
        for _ in range(passes):
            rep = (
                f"replace({rep}, ' ' || b.lhs || ' ' || b.rhs || ' ',"
                f" ' ' || b.lhs || b.rhs || ' ')"
            )
        parts.append(
            f""",
v{t + 1} AS (
    SELECT v.freq, {rep} AS seq
    FROM v{t} v CROSS JOIN b{t} b
)"""
        )
    return "".join(parts)


def bpe_portable_oracle(
    n_merges: int = 8,
    max_word_len: int = 16,
    max_vocab: int | None = None,
    fixpoint_passes: int | None = None,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Mechanically generate the DuckDB SQL that replays
    :func:`bpe_train` — one (pairs, best, apply) CTE block per
    iteration from the SAME parameters, so SQL cannot drift from
    the Spark loop."""
    passes = (
        fixpoint_passes if fixpoint_passes is not None else max_word_len // 2
    )
    ctes = _train_ctes(
        n_merges, max_word_len, max_vocab, passes, table, text_col
    )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS merge_rank, lhs, rhs, pair_count"
        f" FROM b{t}"
        for t in range(n_merges)
    )
    return f"{ctes}\n{union}\nORDER BY merge_rank"


def bpe_token_budget_oracle(
    n_merges: int = 8,
    max_word_len: int = 16,
    max_vocab: int | None = None,
    fixpoint_passes: int | None = None,
    encode_max_len: int = 32,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`bpe_token_budget` — the training CTE chain followed by
    one guarded encode CTE per merge.  The encode CTEs LEFT JOIN
    their b{t} ``ON TRUE`` (not CROSS JOIN) so an early-stopped
    training run (no pairs left) leaves the sequence unchanged, the
    way the Spark chain simply omits missing merges."""
    passes = (
        fixpoint_passes if fixpoint_passes is not None else max_word_len // 2
    )
    enc_passes = max(1, encode_max_len // 2)
    parts = [
        _train_ctes(
            n_merges, max_word_len, max_vocab, passes, table, text_col
        )
    ]
    parts.append(
        f""",
dw AS (
    SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT {id_col} AS doc_id,
                 unnest(string_split_regex(lower({text_col}), '\\s+'))
                     AS word
          FROM {table}) t
    WHERE length(word) >= 1
    GROUP BY doc_id, word
),
e0 AS (
    SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
    FROM (SELECT DISTINCT word FROM dw
          WHERE regexp_matches(word, '^[a-z]+$')
            AND length(word) <= {int(encode_max_len)})
)"""
    )
    for t in range(n_merges):
        rep = "e.seq"
        for _ in range(enc_passes):
            rep = (
                f"replace({rep}, ' ' || b.lhs || ' ' || b.rhs || ' ',"
                f" ' ' || b.lhs || b.rhs || ' ')"
            )
        parts.append(
            f""",
e{t + 1} AS (
    SELECT e.word,
           CASE WHEN b.lhs IS NULL THEN e.seq ELSE {rep} END AS seq
    FROM e{t} e LEFT JOIN b{t} b ON TRUE
)"""
        )
    parts.append(
        f""",
wtok AS (
    SELECT word,
           CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_tok
    FROM e{n_merges}
),
agg AS (
    SELECT doc_id,
           CAST(SUM(cnt * COALESCE(w.n_tok, 1)) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN w.n_tok IS NULL THEN cnt ELSE 0 END)
                AS BIGINT) AS n_oov_words
    FROM dw d LEFT JOIN wtok w USING (word)
    GROUP BY doc_id
)
SELECT d.{id_col} AS doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.n_oov_words, 0) AS n_oov_words
FROM {table} d LEFT JOIN agg a ON a.doc_id = d.{id_col}"""
    )
    return "".join(parts)
