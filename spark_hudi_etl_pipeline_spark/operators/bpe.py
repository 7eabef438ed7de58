"""Distributed BPE tokenizer training + encoding (north-star LLM-data
extension; the subword-vocabulary step of a training-data pipeline,
Sennrich et al. 2016, arXiv:1508.07909).

Scale shape — the part that matters at 100 TB:

- :func:`word_frequencies` is the ONLY corpus-scale operation: one
  tokenize pass + one hash aggregation to the (word, freq) table. BPE
  statistics are a function of the word-frequency dictionary, not the
  corpus — after this step the corpus is never touched again.
- :func:`bpe_train` iterates on that dictionary (bounded by distinct
  words, ~10⁵-10⁶ rows regardless of corpus size): each merge is one
  pair-count aggregation + a top-1 (TakeOrderedAndProject) + a map-only
  greedy fold over the symbol arrays — all JVM expressions, no Python
  in the loop. One small shuffle per merge.
- encoding (``plans/bpe_plans.py::bpe_tokens``) is map-only over the
  corpus: one :func:`merge_pair_fold` per merge in rank order, all JVM
  higher-order expressions.

Determinism: pair ties break lexicographically (classic BPE leaves ties
unspecified), so the merge list is a pure function of the corpus and
both the trainer and the pytest pure-Python reference agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

#: End-of-word marker (the classic BPE sentinel: final symbols merge
#: differently from word-internal ones).
EOW = "</w>"


def word_frequencies(df: DataFrame) -> DataFrame:
    """(word, freq) over whitespace-split lowercased ``text`` — the one
    corpus-scale aggregation; everything downstream runs on this
    dictionary."""
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _chars_with_eow(word_col: str | Column) -> Column:
    """Initial symbol sequence: characters plus the end-of-word marker."""
    c = F.col(word_col) if isinstance(word_col, str) else word_col
    return F.concat(
        F.filter(F.split(c, ""), lambda x: x != ""),
        F.array(F.lit(EOW)),
    )


def merge_pair_fold(sym: str | Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol pairs
    inside one array — the classic BPE replace, as a pure JVM fold (no
    Python): after merging, the new symbol cannot chain-merge with the
    next element in the same pass (``aaa`` + (a,a) → ``[aa, a]``),
    exactly the standard semantics."""
    col = F.col(sym) if isinstance(sym, str) else sym

    def fold(acc: Column, x: Column) -> Column:
        cond = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        return F.when(
            cond,
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(col, F.array().cast("array<string>"), fold)


def bpe_train(word_freqs: DataFrame, n_merges: int) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a (word, freq) dictionary.

    Per iteration: adjacent-pair counts (freq-weighted) → top-1 by
    (count desc, pair lex asc) → greedy fold applied to every word's
    symbol array. The dictionary is checkpointed per iteration so plan
    depth stays O(1), and the top-1 is a TakeOrderedAndProject — only
    ONE pair row ever reaches the driver per merge (the merge list
    itself is the tokenizer artifact, inherently driver-scale). Stops
    early when the best pair occurs fewer than twice (nothing left
    worth merging)."""
    wf = word_freqs.select(
        _chars_with_eow("word").alias("sym"), "freq"
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            wf.select(
                F.explode(
                    F.expr(
                        "zip_with(slice(sym, 1, size(sym)-1), "
                        "slice(sym, 2, size(sym)-1), "
                        "(a, b) -> struct(a AS l, b AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        left, right = best[0]["l"], best[0]["r"]
        merges.append((left, right))
        wf = wf.select(
            merge_pair_fold("sym", left, right).alias("sym"), "freq"
        ).localCheckpoint(eager=True)
    return merges


def merge_table(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned merge list as a DataFrame artifact (rank, left,
    right, merged) — what gets persisted/broadcast to encoders."""
    return local_frame(
        spark,
        [(i, l, r, l + r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )
