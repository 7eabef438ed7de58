"""Distributed BPE (operators/bpe.py) against an independent pure-Python
reference implementation of Sennrich-style BPE — merge-list parity,
greedy-fold semantics, and encode-loop parity."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.bpe import (
    EOW,
    bpe_train,
    merge_pair_fold,
    merge_table,
    word_frequencies,
)

CORPUS = [
    "low low low low low",
    "lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest",
]


def _ref_train(word_freqs: dict[str, int], n_merges: int, min_freq: int = 2):
    """Independent reference: classic BPE on a word-frequency dict with
    lexicographic tie-break."""
    vocab = {tuple(list(w) + [EOW]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs: collections.Counter = collections.Counter()
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        (a, b), _ = best
        merges.append((a, b))
        new_vocab = {}
        for sym, f in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = f
        vocab = new_vocab
    return merges


def _ref_encode(word: str, merges):
    ranks = {p: i for i, p in enumerate(merges)}
    sym = list(word) + [EOW]
    while len(sym) > 1:
        cands = [
            (ranks[(sym[i], sym[i + 1])], i)
            for i in range(len(sym) - 1)
            if (sym[i], sym[i + 1]) in ranks
        ]
        if not cands:
            break
        _, i = min(cands)
        sym = sym[:i] + [sym[i] + sym[i + 1]] + sym[i + 2 :]
    return sym


def test_train_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "id long, text string")
    wf = word_frequencies(df)
    got = bpe_train(wf, 8)
    ref_freqs = collections.Counter(
        w for t in CORPUS for w in t.lower().split()
    )
    want = _ref_train(dict(ref_freqs), 8)
    assert got == want
    assert len(got) == 8
    # The famous shape: 'est</w>' emerges from newest/widest mass.
    assert ("est", EOW) in [(l, r) for l, r in got] or any(
        l + r == "est" + EOW for l, r in got
    )


def test_train_min_freq_stops_early(spark):
    df = spark.createDataFrame([(0, "ab ab cd")], "id long, text string")
    wf = word_frequencies(df)
    # Only pairs within 'ab' (freq 2) reach bpe_train's floor of 2; 'cd'
    # pairs are freq 1.
    merges = bpe_train(wf, 50)
    ref = _ref_train({"ab": 2, "cd": 1}, 50, min_freq=2)
    assert merges == ref
    assert 0 < len(merges) < 50


def test_merge_fold_greedy_no_chain(spark):
    df = spark.createDataFrame([(["a", "a", "a"],)], "sym array<string>")
    out = df.select(merge_pair_fold("sym", "a", "a").alias("m")).collect()
    # Greedy left-to-right: aaa -> [aa, a], the merged symbol never
    # chain-merges within the same pass.
    assert out[0]["m"] == ["aa", "a"]


def test_encode_matches_reference(spark):
    """The JVM encode that ``bpe_encode_fixed`` runs equals the
    reference rank-priority loop for a learned merge list."""
    from spark_hudi_etl_pipeline_spark.plans.bpe_plans import bpe_tokens

    texts = CORPUS + ["lowest newlow unseen zzz"]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    merges = bpe_train(word_frequencies(df), 10)
    got = {
        r["id"]: r["tokens"]
        for r in df.select("id", bpe_tokens(F.col("text"), merges).alias("tokens"))
        .collect()
    }
    for i, text in enumerate(texts):
        toks = [s for w in text.lower().split() for s in _ref_encode(w, merges)]
        assert got[i] == toks, f"doc {i}"


def test_merge_table_artifact(spark):
    rows = merge_table(spark, [("a", "b"), ("ab", "c")]).collect()
    assert [(r["rank"], r["left"], r["right"], r["merged"]) for r in rows] == [
        (0, "a", "b", "ab"),
        (1, "ab", "c", "abc"),
    ]
