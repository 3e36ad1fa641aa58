"""WordPiece-style subword tokenization, distributed.

Applying a learned subword vocabulary (the inference half of tokenizer
training; the training half's pair-counting step is
``text.bpe_pair_counts``) is a per-word WHILE loop — greedy longest
prefix match — that no built-in Spark expression expresses.  The scale
trick makes the Python loop irrelevant: tokenize DISTINCT WORDS, not
the corpus.  Vocabulary grows sublinearly (Heaps' law), so the
imperative work is O(vocab) regardless of corpus size; corpus-scale
work stays declarative (word-count aggregate, piece join).

Pipeline:
1. distinct-word frequency table (one shuffle, map-side combined);
2. vocabulary = single characters ∪ top bigrams ∪ top whole words —
   derived from the corpus itself, deterministically (ties on string);
   bounded by construction, collected once and shipped in the Arrow
   closure;
3. ``mapInPandas`` over distinct words: greedy longest-match loop per
   word (single-char entries guarantee progress and totality);
4. piece-level corpus stats = join pieces back to word frequencies.

No per-corpus-row Python ever runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_opensky_spark.functions.text import bpe_pair_counts, tokenize


def _word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    words = docs.select(
        F.explode(tokenize(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    return words.groupBy("w").agg(F.count("*").alias("freq"))


def build_vocab(
    docs: DataFrame,
    text_col: str,
    top_bigrams: int = 100,
    top_words: int = 50,
    max_word_len: int = 20,
    word_limit: int = 500,
) -> list[str]:
    """Deterministic corpus-derived piece vocabulary: every single
    character of the tokenized word set, the ``top_bigrams`` most
    frequent character pairs, and the ``top_words`` most frequent whole
    words.  All three tiers come from engine-side aggregates with
    total-order cuts; the result is a BOUNDED list (≲ a few hundred
    entries) safe to collect and close over."""
    wf = (
        _word_freq(docs, text_col)
        .filter(F.length("w") <= max_word_len)
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(word_limit)
    )
    singles = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("piece")
    ).distinct()
    bigrams = bpe_pair_counts(docs, text_col, top_n=top_bigrams).select(
        F.col("pair").alias("piece")
    )
    words = wf.orderBy(F.col("freq").desc(), F.col("w")).limit(
        top_words
    ).select(F.col("w").alias("piece"))
    vocab = (
        singles.unionByName(bigrams).unionByName(words)
        .distinct()
        .orderBy("piece")
    )
    return [r["piece"] for r in vocab.collect()]


def wordpiece_pieces(
    docs: DataFrame,
    text_col: str,
    vocab: list[str],
    max_word_len: int = 20,
    word_limit: int = 500,
) -> DataFrame:
    """Tokenize the corpus's top ``word_limit`` distinct words with a
    greedy longest-match over ``vocab``; returns corpus-level piece
    frequencies ``(piece, n_occurrences)`` (each word's pieces weighted
    by the word's corpus frequency).

    The greedy loop runs inside ONE Arrow-batched ``mapInPandas`` pass
    over the distinct-word table only.
    """
    vocab_set = frozenset(vocab)
    max_piece = max((len(p) for p in vocab_set), default=1)

    wf = (
        _word_freq(docs, text_col)
        .filter(F.length("w") <= max_word_len)
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(word_limit)
    )

    def tok_batches(batches):
        import pandas as pd

        for pdf in batches:
            out_w, out_piece = [], []
            for w in pdf["w"]:
                pos, n = 0, len(w)
                while pos < n:
                    for ln in range(min(max_piece, n - pos), 0, -1):
                        cand = w[pos : pos + ln]
                        if cand in vocab_set:
                            out_w.append(w)
                            out_piece.append(cand)
                            pos += ln
                            break
                    else:  # char not in vocab: emit it alone (UNK-ish)
                        out_w.append(w)
                        out_piece.append(w[pos])
                        pos += 1
            yield pd.DataFrame({"w": out_w, "piece": out_piece})

    pieces = wf.select("w").mapInPandas(tok_batches, "w string, piece string")
    weighted = pieces.join(wf, "w")
    return (
        weighted.groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("piece"))
    )


def _bpe_fold_rule(a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b) into
    ``a+b`` as an expression fold step — shared by merge APPLICATION
    (:func:`bpe_apply_merges`) and merge TRAINING (:func:`bpe_train`)
    so the two halves provably apply identical semantics."""

    # factory closure, NOT default-arg capture: pyspark's lambda
    # bridge requires exactly (acc, x) named params (SKILL gotcha)
    def merge(acc: Column, x: Column) -> Column:
        return F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return merge


def bpe_apply_merges(col: Column, merges: Sequence[tuple[str, str]]) -> Column:
    """Apply a learned BPE merge list (rank order) to a word — the
    inference half of byte-pair encoding (Sennrich et al. 2016; the
    training half's pair-count step is ``text.bpe_pair_counts``).

    One chained ``aggregate`` fold per merge rule, entirely Column
    expressions: for merge ``(a, b)``, fold left over the token array
    — if the accumulator's last token is ``a`` and the next is ``b``,
    replace the tail with ``ab``, else append.  The fold IS the
    standard left-to-right non-overlapping merge semantics
    ("aaa" + (a,a) → [aa, a]): once merged, the tail token is ``ab``,
    which no longer matches ``a``.

    Zero shuffle, zero Python — and the intended call shape is over
    the DISTINCT-WORD table (Heaps' law, same as the WordPiece path
    above), never the raw corpus.  Returns ``array<string>`` tokens.
    """
    toks = F.split(col, "")
    for a, b in merges:
        toks = F.aggregate(
            toks, F.array().cast("array<string>"), _bpe_fold_rule(a, b)
        )
    return toks


def bpe_train(
    docs: DataFrame, text_col: str, n_merges: int
) -> list[tuple[str, str, int]]:
    """Distributed BPE TRAINING loop, end-to-end (VERDICT r4 #6): the
    full Sennrich et al. 2016 trainer — count adjacent token pairs,
    merge the most frequent, re-count — iterated ``n_merges`` times.
    ``text.bpe_pair_counts`` is one step of this; ``bpe_apply_merges``
    is the inference half; this closes the loop.  Returns the learned
    merge list ``[(a, b, pair_count), ...]`` in rank order — the
    tokenizer artifact.

    The 100 TB shape: the corpus is collapsed ONCE to the distinct-word
    frequency table (Heaps' law — sublinear in corpus size), and every
    iteration runs over that bounded table: pair counting is an explode
    + map-side-combined SUM weighted by word frequency, the argmax is a
    deterministic total-order top-1 (count desc, then (a, b) strings —
    ties cannot flip between engines), and the merge application is the
    SAME expression fold inference uses (``_bpe_fold_rule``).  Only the
    single winning pair crosses to the driver per round — the trainer's
    inherent global decision point, O(n_merges) scalars total.  Each
    round ``localCheckpoint``s the token table: iterative DataFrame
    loops otherwise nest every round's plan inside the next (SCALE.md
    driver-OOM lesson).
    """
    words = docs.select(
        F.explode(tokenize(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    chars = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    cur = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("freq", chars.alias("toks"))
        .localCheckpoint(eager=True)
    )

    merges: list[tuple[str, str, int]] = []
    pair_expr = F.expr(
        "transform(sequence(1, size(toks) - 1), i -> named_struct("
        "'a', element_at(toks, i), 'b', element_at(toks, i + 1)))"
    )
    for _rank in range(n_merges):
        top = (
            cur.filter(F.size("toks") >= 2)
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged — nothing adjacent remains
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        cur = cur.withColumn(
            "toks",
            F.aggregate(
                F.col("toks"),
                F.array().cast("array<string>"),
                _bpe_fold_rule(a, b),
            ),
        ).localCheckpoint(eager=True)
    return merges


def bpe_train_oracle_sql(n_merges: int, table: str = "documents") -> str:
    """DuckDB replay of the FULL :func:`bpe_train` loop, unrolled (the
    q88 unrolled-recursion oracle pattern): stage ``k`` counts adjacent
    token pairs over ``t_{k-1}``, picks the deterministic argmax
    (``ORDER BY n DESC, a, b LIMIT 1``), and folds the DATA-DEPENDENT
    winning pair — read back via scalar subqueries on ``m_k`` — into
    ``t_k`` with the same left-to-right non-overlapping ``list_reduce``
    as :func:`bpe_oracle_sql`.  Every ``t_k`` is referenced TWICE (the
    next count AND the next fold), so each is ``AS MATERIALIZED`` —
    without it DuckDB re-inlines the chain exponentially (the q113
    lesson).  DuckDB forbids subqueries INSIDE lambdas, so each stage
    CROSS JOINs its single-row ``m_k`` and the fold captures the winner
    as plain row columns.  Result: the rank-ordered merge table
    ``(rank, a, b, n)``.
    """
    sql = (
        "WITH wf AS MATERIALIZED (\n"
        "  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (\n"
        "    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))"
        f" AS w FROM {table}\n"
        "  ) WHERE w <> '' GROUP BY w\n"
        "),\n"
        "t0 AS MATERIALIZED (\n"
        "  SELECT freq, list_transform(range(length(w)), i -> w[i+1])"
        " AS toks FROM wf\n"
        ")"
    )
    prev = "t0"
    for k in range(1, n_merges + 1):
        sql += (
            f",\np{k} AS (\n"
            "  SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT)"
            " AS n FROM (\n"
            "    SELECT freq, unnest(list_transform(range(len(toks) - 1),\n"
            "      i -> {'a': toks[i+1], 'b': toks[i+2]})) AS pr\n"
            f"    FROM {prev} WHERE len(toks) >= 2\n"
            "  ) GROUP BY 1, 2\n"
            "),\n"
            f"m{k} AS MATERIALIZED ("
            f"SELECT a, b, n FROM p{k} ORDER BY n DESC, a, b LIMIT 1),\n"
            f"t{k} AS MATERIALIZED (\n"
            "  SELECT freq, list_reduce(list_transform(toks, t -> [t]),\n"
            "    (acc, x) -> CASE WHEN acc[len(acc)] = ma AND x[1] = mb\n"
            "      THEN list_append(acc[1:len(acc)-1],"
            " acc[len(acc)] || x[1])\n"
            "      ELSE list_concat(acc, x) END) AS toks\n"
            f"  FROM {prev} CROSS JOIN"
            f" (SELECT a AS ma, b AS mb FROM m{k})\n"
            ")"
        )
        prev = f"t{k}"
    parts = " UNION ALL ".join(
        f"SELECT {k} AS rank, a, b, n FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    sql += f"\nSELECT * FROM ({parts}) ORDER BY rank"
    return sql


def bpe_oracle_sql(vocab_sql: str, merges: Sequence[tuple[str, str]]) -> str:
    """DuckDB replay of ``bpe_apply_merges``: a linear CTE chain, one
    ``list_reduce`` fold per merge (tokens re-wrapped as single-element
    lists each stage so the accumulator stays LIST(VARCHAR)).  Linear
    chain — each stage referenced once, so no need for the q113
    AS MATERIALIZED exponential-inline guard."""
    sql = f"WITH vocab AS ({vocab_sql}),\n"
    sql += (
        "t0 AS (SELECT word, list_transform(range(length(word)),"
        " i -> [word[i+1]]) AS toks FROM vocab WHERE length(word) > 0)"
    )
    prev = "t0"
    for k, (a, b) in enumerate(merges, start=1):
        aq, bq, mq = a.replace("'", "''"), b.replace("'", "''"), (a + b).replace("'", "''")
        wrap = (
            f"list_transform({prev}.toks, t -> [t])"
            if k > 1
            else f"{prev}.toks"
        )
        sql += (
            f",\nt{k} AS (SELECT word, list_reduce({wrap},"
            f" (acc, x) -> CASE WHEN acc[len(acc)] = '{aq}' AND x[1] = '{bq}'"
            f" THEN list_append(acc[1:len(acc)-1], '{mq}')"
            f" ELSE list_concat(acc, x) END) AS toks FROM {prev})"
        )
        prev = f"t{k}"
    sql += (
        f"\nSELECT word, array_to_string(toks, ' ') AS tokens,"
        f" CAST(len(toks) AS INTEGER) AS n_tokens FROM {prev}"
    )
    return sql
