"""BPE tokenizer plans (operators/bpe.py) over the documents fixture.

``bpe_encode_fixed`` is fully value-checked: applying a FIXED merge
list is a deterministic fold both engines replay exactly (Spark
higher-order ``aggregate`` vs DuckDB ``list_reduce`` — same greedy
left-to-right semantics, verified symbol-for-symbol). Training is an
iterative argmax (not SQL-expressible) → ``bpe_train_merges`` registers
rows-only; its value correctness is pinned by
``tests/test_bpe.py::test_train_matches_reference`` against an
independent pure-Python BPE implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import (
    _chars_with_eow,
    bpe_train,
    merge_pair_fold,
    merge_table,
    word_frequencies,
)
from ..sources import load_table
from .registry import query

#: Fixed merge sequence for the value-checked encode query — chosen to
#: actually fire on the fixture vocabulary ('scan', 'sort', 'order', …).
FIXED_MERGES = [
    ("a", "n"),
    ("an", "</w>"),
    ("s", "c"),
    ("sc", "an</w>"),
    ("o", "r"),
    ("or", "t"),
]


def _duck_fold(expr: str, left: str, right: str) -> str:
    """DuckDB twin of operators.bpe.merge_pair_fold (greedy adjacent
    merge as a list_reduce over singleton-wrapped symbols)."""
    merged = left + right
    return (
        f"list_reduce(list_transform({expr}, s -> [s]), (acc, x) -> "
        f"CASE WHEN len(acc) > 0 AND acc[-1] = '{left}' AND x[1] = '{right}' "
        f"THEN acc[:len(acc)-1] || ['{merged}'] ELSE acc || x END)"
    )


def bpe_tokens(text: Column, merges: list[tuple[str, str]]) -> Column:
    """The BPE symbols of ``text``: lower-cased whitespace words, each
    split into chars + EOW, then one greedy left-to-right fold per merge
    in rank order (equal to the rank-priority encode loop for a learned
    merge list)."""

    def enc_word(w):
        sym = _chars_with_eow(w)
        for left, right in merges:
            sym = merge_pair_fold(sym, left, right)
        return sym

    words = F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda x: x != "")
    return F.flatten(F.transform(words, enc_word))


def _duck_encode_expr() -> str:
    e = "string_split(w, '') || ['</w>']"
    for left, right in FIXED_MERGES:
        e = _duck_fold(e, left, right)
    return e


@query(
    "bpe_encode_fixed",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
enc AS (
  SELECT doc_id,
         flatten(list_transform(ws, w -> {_duck_encode_expr()})) AS tokens
  FROM toks
)
SELECT doc_id, len(tokens) AS n_tokens,
       array_to_string(tokens, ' ') AS tokens_str
FROM enc ORDER BY doc_id
""",
)
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the fixed merge list to every document — chars+EOW per
    word, then the greedy fold per merge rank, all JVM higher-order
    expressions (map-only over the corpus, zero Python). The oracle
    replays the identical folds in DuckDB, so every symbol of every
    document is value-checked."""
    d = load_table(spark, sf_dir, "documents")
    tokens = bpe_tokens(F.col("text"), FIXED_MERGES)
    return (
        d.select(
            "doc_id",
            F.size(tokens).alias("n_tokens"),
            F.array_join(tokens, " ").alias("tokens_str"),
        )
        .orderBy("doc_id")
    )


@query("bpe_train_merges")  # rows-only: iterative argmax has no SQL twin
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 10 BPE merges from the documents corpus (one corpus-scale
    word-frequency aggregation, then dictionary-sized iterations) and
    return the merge table. Value parity with an independent pure-Python
    BPE is asserted in tests/test_bpe.py."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_frequencies(d), 10)
    return merge_table(spark, merges).orderBy("rank")
