"""Byte-pair-encoding tokenizer induction over a Spark corpus.

The scale split is the one production tokenizer trainers use
(sentencepiece / HF tokenizers): the CORPUS-scale work is exactly one
word-frequency count — a map-side-combined groupBy Spark executes at scan
speed — and the merge-learning loop runs over that (pruned, bounded)
word-frequency table on the driver, because its cost is
O(vocab × merges), independent of corpus size. Applying the learned
merges back to the corpus goes through the distinct→compute→join idiom
(functions/udfs.compute_on_distinct): tokenization cost is per DISTINCT
word, the reference-memoization pattern this repo uses for every
expensive per-string function.

Determinism: merge selection is (pair count DESC, pair lexicographic ASC)
— a total order — so the same corpus always learns the same merge table
on any cluster layout.

No oracle query: the merge table is data-dependent, and the driver's
oracle SQL is generated statically — the learner is pinned by unit tests
(hand-computed merges, reconstruction invariant, monotone compression,
UDF-vs-driver tokenization equality) instead.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

END = "</w>"


def _n_pieces_udf_for(merges: list[tuple[str, str]]):
    """Module-scope pandas-UDF factory (type-hint resolution requires the
    annotations to resolve against module globals — see functions/udfs.py)."""
    m = list(merges)

    @F.pandas_udf("int")
    def n_pieces_udf(words: pd.Series) -> pd.Series:
        return pd.Series(
            [len(apply_bpe(w, m)) if w is not None else 0 for w in words]
        )

    return n_pieces_udf


def bpe_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = 100_000,
) -> DataFrame:
    """(word, n) frequency table of normalized whitespace tokens — the one
    corpus-scale pass. ``min_count`` / ``max_words`` are the pruning every
    at-scale trainer applies before the driver sees anything: the cap is a
    TakeOrdered top-N (count desc, word asc — total order), never a global
    window."""
    from collection_templates_spark.operators.dedup import (
        _spread,
        normalize_text,
    )

    counts = (
        _spread(docs)
        .select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    if max_words is not None:
        counts = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(
            max_words
        )
    return counts


def learn_bpe_merges(
    word_counts: list[tuple[str, int]], n_merges: int = 100
) -> list[tuple[str, str]]:
    """Classic BPE (Sennrich/Haddow/Birch 2016) over a word-frequency
    table: words start as character sequences + ``</w>``; each step merges
    the most frequent adjacent symbol pair (ties → lexicographically
    smallest pair). Pure driver-side Python BY DESIGN — see module
    docstring. Stops early when no pair occurs twice."""
    words: list[tuple[list[str], int]] = [
        (list(w) + [END], n) for w, n in word_counts
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in words:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best_count = max(pairs.values())
        if best_count < 2:
            break
        pair = min(p for p, c in pairs.items() if c == best_count)
        merges.append(pair)
        a, b = pair
        ab = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def apply_bpe(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Tokenize one word with a learned merge table (merges applied in
    learned priority order, the standard greedy scheme)."""
    syms = list(word) + [END]
    rank = {p: i for i, p in enumerate(merges)}
    while len(syms) > 1:
        best_i, best_r = -1, None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def train_bpe(
    docs: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = 100_000,
) -> list[tuple[str, str]]:
    """One corpus pass + driver merge loop → the learned merge table.
    Only the pruned (word, n) table is collected (bounded by
    ``max_words``); collection order cannot matter because the learner
    re-sorts nothing — pair counts are order-free and ties break
    lexicographically."""
    counts = bpe_word_counts(docs, text_col, min_count, max_words)
    return learn_bpe_merges(
        [(r["word"], r["n"]) for r in counts.collect()], n_merges
    )


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc subword statistics under a learned merge table:
    (doc, n_words, n_pieces, compression = pieces/words). The per-word
    tokenization runs once per DISTINCT word (compute_on_distinct's
    broadcast-join memoization), then aggregates natively."""
    from collection_templates_spark.functions.udfs import compute_on_distinct
    from collection_templates_spark.operators.dedup import (
        _spread,
        normalize_text,
    )

    n_pieces_udf = _n_pieces_udf_for(merges)
    exploded = _spread(docs).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    pieced = compute_on_distinct(exploded, "word", n_pieces_udf, "n_p")
    return (
        pieced.groupBy("doc")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_p").alias("n_pieces"),
        )
        .withColumn(
            "compression", F.round(F.col("n_pieces") / F.col("n_words"), 6)
        )
    )


def learn_bpe_merges_spark(
    word_counts: DataFrame,
    n_merges: int = 6,
    min_pair_count: int = 1,
) -> DataFrame:
    """Fully-distributed BPE merge learning — the scale path of
    :func:`learn_bpe_merges` for when the word-frequency table itself
    no longer fits a driver (100M-word multilingual vocabs): the token
    sequences stay a DataFrame; each round is one map-side-combined
    pair-count aggregate, a 1-ROW driver pull (the merge decision —
    the PCA-moment idiom), and one shuffle-free-per-word rebuild.

    The rebuild replicates the driver learner's greedy left-to-right
    non-overlapping application EXACTLY, as relational algebra:
    candidate positions (tok=a, next=b) form gaps-and-islands runs;
    within a run of consecutive candidates the 1st, 3rd, … merge and
    the positions they consume drop (for 'a a a a' under (a,a):
    candidates at 0,1,2 → merge 0 and 2, consume 1 and 3 — the
    textbook greedy pairing). Pair counting counts EVERY adjacency
    (overlaps included), matching the classic counter.

    Determinism: merge pick is (count DESC, pair lexicographic ASC), a
    total order; everything else is integer counts and binary string
    compares. Per-round state localCheckpoints (entity-sized: the
    pruned vocab, never the corpus). Returns the merge table
    (rank, left_sym, right_sym, pair_count) — rank is learn order.
    """
    spark = word_counts.sparkSession
    words = word_counts.select(
        "word",
        F.col("n").cast("long").alias("n"),
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END))
        ).alias("toks"),
    ).localCheckpoint()
    wspec = Window.partitionBy("word").orderBy("i")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(n_merges) + 1):
        ex = words.select(
            "word", "n", F.posexplode("toks").alias("i", "t")
        ).withColumn("nt", F.lead("t").over(wspec))
        best = (
            ex.filter(F.col("nt").isNotNull())
            .groupBy(F.col("t").alias("a"), F.col("nt").alias("b"))
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best or int(best[0]["c"]) < min_pair_count:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((rank, a, b, c))
        cand = (
            (F.col("t") == F.lit(a)) & (F.col("nt") == F.lit(b))
        ).cast("int")
        st = (
            ex.withColumn("cand", cand)
            .withColumn(
                "isl",
                F.when(
                    F.col("cand") == 1,
                    F.col("i")
                    - F.row_number().over(
                        Window.partitionBy("word", "cand").orderBy("i")
                    ),
                ),
            )
            .withColumn(
                "start",
                (F.col("cand") == 1)
                & (
                    F.row_number().over(
                        Window.partitionBy("word", "isl").orderBy("i")
                    )
                    % 2
                    == 1
                ),
            )
            .withColumn(
                "consumed",
                F.coalesce(F.lag("start").over(wspec), F.lit(False)),
            )
        )
        words = (
            st.filter(~F.col("consumed"))
            .select(
                "word",
                "n",
                F.struct(
                    "i",
                    F.when(F.col("start"), F.concat("t", "nt"))
                    .otherwise(F.col("t"))
                    .alias("tok"),
                ).alias("pt"),
            )
            .groupBy("word", "n")
            .agg(F.array_sort(F.collect_list("pt")).alias("arr"))
            .select("word", "n", F.col("arr.tok").alias("toks"))
            .localCheckpoint()
        )
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count long"
    )
