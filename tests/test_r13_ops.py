"""Round-13 widening: two-stage SQ8 rerank, deterministic epoch
shuffle, cluster-density-equalized sampling, and the quality-threshold
sweep — planted-evidence fixtures for the boundary case each docstring
claims (rerank FIXES a quantization-flipped order; epoch salt re-
permutes; whole-stratum keep vs downsampled stratum; sweep edges).
Cross-engine value parity is covered by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.sampling import (
    epoch_shuffle,
    stratum_equalized_sample,
)
from spark_hudi_etl_pipeline_spark.operators.similarity import (
    label_centroid_assign,
    sq8_rerank_topk,
    sq8_stats,
)

from spark_hudi_etl_pipeline_spark.operators.privacy import t_closeness_gate

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


# --------------------------------------------------------------------------
# sq8_rerank_topk
# --------------------------------------------------------------------------


def _vec(*xs, dim=4):
    v = list(map(float, xs)) + [0.0] * (dim - len(xs))
    return v[:dim]


def test_sq8_rerank_fixes_quantization_flip(spark):
    """Two candidates nearly tied in exact cosine, plus an outlier that
    stretches the per-dim [min, max] so SQ8 codes collapse the tie the
    WRONG way: stage 1 may rank them either way, but the exact re-rank
    must order them by true cosine. The far-away candidate must not
    reach the final top-k at all."""
    rows = [
        (0, _vec(1.0, 0.0), 0),            # query
        (1, _vec(1.0, 0.15), 0),           # true #2 (farther off-axis)
        (2, _vec(1.0, 0.05), 0),           # true #1 (nearest the query)
        (3, _vec(-1.0, 900.0), 0),         # outlier: stretches dim-2 range
        (4, _vec(-1.0, -900.0), 0),        # outlier the other way
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    out = sq8_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        dim=4,
        shortlist=4,
        k=2,
    ).collect()
    assert [r["cid"] for r in out] == [0, 2]  # self first, then true #1
    # With dim-2 quantized to a ~7-unit grid, vecs 1 and 2 get the SAME
    # code (approx tie) — the exact stage must still separate them.
    approx_codes = {r["cid"]: r["arnk"] for r in out}
    assert set(approx_codes) <= {0, 1, 2}


def test_sq8_rerank_shortlist_caps_exact_reads(spark):
    """Stage 2 sees exactly |Q|·shortlist candidate rows: with
    shortlist=2 the third-nearest vector can never appear, even though
    k=3 asks for three results."""
    rows = [
        (0, _vec(1.0, 0.0), 0),
        (1, _vec(1.0, 0.1), 0),
        (2, _vec(1.0, 0.2), 0),
        (3, _vec(0.0, 1.0), 0),
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    out = sq8_rerank_topk(
        emb, emb.filter(F.col("vec_id") == 0), dim=4, shortlist=2, k=3
    ).collect()
    assert len(out) == 2  # shortlist bounds the result, not k
    assert {r["cid"] for r in out} == {0, 1}


def test_sq8_stats_rejects_overlong_vectors(spark):
    import pytest

    emb = spark.createDataFrame([(0, _vec(1.0, 2.0), 0)], EMB_SCHEMA)
    with pytest.raises(ValueError, match="out of range"):
        sq8_stats(emb, dim=2)


def test_sq8_stats_tolerates_ragged_short_vectors(spark):
    """dim > actual vector length is documented as valid (the ValueError
    text says 'pass dim >= the actual vector length'): missing trailing
    dimensions must behave like the old posexplode shape — no rows for
    that dim → 0.0 fallback — not throw under ANSI element_at (r13
    advisor finding). Mixed lengths exercise both the populated and the
    all-NULL aggregate legs."""
    rows = [
        (0, [1.0, -2.0], 0),          # 2 dims
        (1, [4.0, 5.0, 6.0], 0),      # 3 dims
    ]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    mn, mx = sq8_stats(emb, dim=4)
    assert mn == [1.0, -2.0, 6.0, 0.0]
    assert mx == [4.0, 5.0, 6.0, 0.0]


def test_dstr_rejects_non_finite():
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.similarity import _dstr

    assert _dstr(1.5) == "1.5D"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _dstr(bad)


# --------------------------------------------------------------------------
# epoch_shuffle
# --------------------------------------------------------------------------


def test_epoch_shuffle_positions_are_dense_per_shard(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, "doc_id", epoch=1, shards=4)
    per = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
            F.countDistinct("pos").alias("d"),
        )
        .collect()
    )
    assert len(per) == 4
    for r in per:
        # pos is exactly 1..n within each shard — a permutation, no
        # gaps or collisions.
        assert (r["lo"], r["hi"], r["d"]) == (1, r["n"], r["n"])


def test_epoch_shuffle_salt_changes_order_not_membership(spark):
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    e1 = epoch_shuffle(df, "doc_id", epoch=1, shards=1).collect()
    e2 = epoch_shuffle(df, "doc_id", epoch=2, shards=1).collect()
    o1 = [r["doc_id"] for r in sorted(e1, key=lambda r: r["pos"])]
    o2 = [r["doc_id"] for r in sorted(e2, key=lambda r: r["pos"])]
    assert sorted(o1) == sorted(o2) == list(range(500))
    assert o1 != o2  # a fresh permutation per epoch
    # And re-running the SAME epoch is bit-identical.
    again = [
        r["doc_id"]
        for r in sorted(
            epoch_shuffle(df, "doc_id", epoch=1, shards=1).collect(),
            key=lambda r: r["pos"],
        )
    ]
    assert again == o1


# --------------------------------------------------------------------------
# stratum_equalized_sample
# --------------------------------------------------------------------------


def test_stratum_equalized_sample_keeps_small_strata_whole(spark):
    rows = [(i, "small" if i < 10 else "big") for i in range(1010)]
    df = spark.createDataFrame(rows, "k long, s string")
    kept = stratum_equalized_sample(df, "k", "s", target=20).collect()
    small = [r for r in kept if r["s"] == "small"]
    big = [r for r in kept if r["s"] == "big"]
    # |small| = 10 <= target: kept whole, unit HT weight.
    assert len(small) == 10
    assert all(r["ipw_q"] == 1_000_000 for r in small)
    # |big| = 1000: E[kept] = 20; the hash rule is deterministic, so
    # just bound it generously and check the exact integer weight.
    assert 5 <= len(big) <= 60
    assert all(r["ipw_q"] == 1000 * 1_000_000 // 20 for r in big)


def test_stratum_equalized_sample_is_append_stable(spark):
    """A row kept at one corpus size is still kept when its stratum
    doubles IF its u16 still clears the new threshold — and the rule
    depends only on (key, |stratum|), so recomputing on the doubled
    stratum yields a superset relationship in expectation; the exact
    check is determinism: same input → same sample."""
    rows = [(i, "s") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, s string")
    a = {r["k"] for r in stratum_equalized_sample(df, "k", "s", target=50).collect()}
    b = {r["k"] for r in stratum_equalized_sample(df, "k", "s", target=50).collect()}
    assert a == b and len(a) > 0


def test_stratum_equalized_sample_null_stratum_survives(spark):
    """A NULL-keyed stratum is a real stratum: its rows must flow
    through the (null-safe) size join instead of silently vanishing."""
    rows = [(i, None) for i in range(5)] + [(i + 10, "s") for i in range(5)]
    df = spark.createDataFrame(rows, "k long, s string")
    kept = stratum_equalized_sample(df, "k", "s", target=50).collect()
    assert len(kept) == 10  # both strata below target: kept whole
    assert {r["k"] for r in kept if r["s"] is None} == {0, 1, 2, 3, 4}


def test_cluster_balanced_sample_equalizes_label_mix(spark):
    """Assignment + equalized sampling end-to-end on a skewed corpus:
    a 10-vector cluster and a 300-vector cluster both land ~target rows,
    so the dense mode no longer dominates the sample."""
    rows = [(i, _vec(1.0, float(i % 7) / 100.0), 0) for i in range(300)]
    rows += [(300 + i, _vec(-1.0, 5.0 + i), 1) for i in range(10)]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    asg = label_centroid_assign(emb).select(
        "vec_id", "assigned_label"
    )
    kept = stratum_equalized_sample(
        asg, "vec_id", "assigned_label", target=8, salt="cbs:"
    )
    by_label = {
        r["assigned_label"]: r["n"]
        for r in kept.groupBy("assigned_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # Dense cluster: ~8 of 300 (Poisson spread); sparse cluster (10 <=
    # target): kept whole.
    assert by_label.get(1) == 10
    assert 1 <= by_label.get(0, 0) <= 25


# --------------------------------------------------------------------------
# text_gopher_gate
# --------------------------------------------------------------------------


def test_gopher_gate_per_rule_census(spark, tmp_path):
    """Each planted doc fails exactly the rule it was built to fail, and
    the per-source census counts it under that rule: s0 = too short,
    s1 = punctuation soup, s2 = healthy prose (passes all four)."""
    healthy = ("the quick brown fox jumps over the lazy dog and then "
               "the dog sleeps in the warm sun for a while longer ") * 3
    rows = [
        (1, "tiny doc", "en", "s0", 8),
        (2, "!!! ??? ;;; ::: ... ,,, @@@ ### $$$ %%% ^^^ &&& *** ((( ))) "
            "--- === +++ [[[ ]]] {{{ }}} ||| ~~~ ``` <<< >>> /// " * 2,
         "en", "s1", 100),
        (3, healthy.strip(), "en", "s2", len(healthy)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = {r["source"]: r for r in QUERIES["text_gopher_gate"](
        spark, str(tmp_path)).collect()}
    assert out["s0"]["fail_words"] == 1 and out["s0"]["n_keep"] == 0
    assert out["s1"]["fail_punct"] == 1 and out["s1"]["n_keep"] == 0
    assert out["s2"]["n_keep"] == 1 and out["s2"]["keep_rate_q"] == 10000
    for r in out.values():
        assert r["n_docs"] == 1


# --------------------------------------------------------------------------
# dedup_cluster_stats
# --------------------------------------------------------------------------


def test_dedup_cluster_stats_histogram(spark, tmp_path):
    """Three unrelated docs + the operator's own near-copy injection
    (doc_id < 5 gets an appended-tail twin): every doc with id < 5 forms
    a 2-cluster, the rest are singletons; total_removable counts
    exactly the injected copies."""
    words = ["alpha bravo charlie delta echo foxtrot golf hotel india",
             "nine eight seven six five four three two one zero again",
             "red orange yellow green blue indigo violet colors bright"]
    rows = [
        (i, (w + " ") * 6, "en", f"s{i}", 100) for i, w in enumerate(words)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = {r["csize"]: r for r in QUERIES["dedup_cluster_stats"](
        spark, str(tmp_path)).collect()}
    # 3 docs, all id < 5 → 3 twins → 3 clusters of size 2, 0 singletons.
    assert set(out) == {2}
    assert out[2]["n_clusters"] == 3 and out[2]["n_docs"] == 6
    assert out[2]["pct_docs_q"] == 10000
    assert out[2]["total_removable"] == 3


# --------------------------------------------------------------------------
# embargo_time_split
# --------------------------------------------------------------------------


def test_embargo_split_bands_are_disjoint_and_exact(spark, tmp_path):
    """Events on days 1..5: boundary = day 5 − 2 = day 3, embargo band =
    day 2, train < day 2. Every band lands exactly where the purge rule
    says; nothing is double-counted or dropped."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, d, 12), 100 + d, "view", 1.0, "{}")
        for i, d in enumerate([1, 1, 2, 3, 4, 5])
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = {r["split"]: r for r in QUERIES["embargo_time_split"](
        spark, str(tmp_path)).collect()}
    assert out["train"]["n_events"] == 2  # both day-1 events
    assert out["embargo"]["n_events"] == 1  # day 2
    assert out["test"]["n_events"] == 3  # days 3,4,5
    assert out["train"]["max_day"] < out["embargo"]["min_day"]
    assert out["embargo"]["max_day"] < out["test"]["min_day"]
    assert sum(r["n_events"] for r in out.values()) == 6


# --------------------------------------------------------------------------
# dedup_recall_lsh_vs_exact
# --------------------------------------------------------------------------


def test_lsh_recall_total_on_clear_twins(spark, tmp_path):
    """Near-identical twins share nearly all shingles, so every band
    collides: the LSH candidate set covers the exact pair set and the
    summary reads recall 1.0 with zero missed pairs."""
    words = ["alpha bravo charlie delta echo foxtrot golf hotel india juliet",
             "one two three four five six seven eight nine ten eleven twelve"]
    rows = [(i, (w + " ") * 8, "en", "s", 100) for i, w in enumerate(words)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = QUERIES["dedup_recall_lsh_vs_exact"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_exact"] >= 2  # both planted twins pair up
    assert r["n_missed"] == 0 and r["recall_q"] == 10000
    assert r["n_lsh"] == r["n_exact"]


# --------------------------------------------------------------------------
# t_closeness_gate
# --------------------------------------------------------------------------


def test_t_closeness_skewed_class_fails(spark):
    """'bal' and 'big' are uniform over {0,1,2}; 'skew' piles every row
    onto bin 2 — many rows, fully l-diverse-able by count, but its
    distribution leaks. Exact integers: N=120, cumg=(30,60,120);
    skew emd = (900+1800+0)/7200 = 0.375 > 1/5 → suppressed;
    bal emd = (300+600+0)/7200 = 0.125 <= 1/5 → released."""
    rows = [("bal", b) for b in (0, 1, 2) * 10]
    rows += [("big", b) for b in (0, 1, 2) * 20]
    rows += [("skew", 2)] * 30
    df = spark.createDataFrame(rows, "seg string, bin long")
    out = {
        r["seg"]: r
        for r in t_closeness_gate(
            df, quasi=["seg"], sensitive_bin="bin", t_num=1, t_den=5
        ).collect()
    }
    assert out["skew"]["released"] == 0 and out["skew"]["emd_q"] == 375000
    assert out["bal"]["released"] == 1 and out["bal"]["emd_q"] == 125000
    assert out["bal"]["emd_q"] < out["skew"]["emd_q"]


def test_t_closeness_identical_distribution_releases(spark):
    """One class == the whole table ⇒ class distribution IS the global
    distribution ⇒ integer EMD numerator exactly 0, released at any t."""
    rows = [("only", b % 4) for b in range(40)]
    df = spark.createDataFrame(rows, "seg string, bin long")
    out = t_closeness_gate(
        df, quasi=["seg"], sensitive_bin="bin", t_num=0, t_den=1
    ).collect()
    assert len(out) == 1
    assert out[0]["emd_num"] == 0 and out[0]["released"] == 1


# --------------------------------------------------------------------------
# text_lang_mismatch
# --------------------------------------------------------------------------


def test_lang_mismatch_flags_off_diagonal(spark, tmp_path):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and the cat",
         "en", "s0", 50),
        (2, "the quick brown fox jumps over the lazy dog and the cat",
         "fr", "s0", 50),  # English text, declared French
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = {(r["lang"], r["lang_pred"]): r for r in QUERIES["text_lang_mismatch"](
        spark, str(tmp_path)).collect()}
    assert out[("en", "en")]["mismatch"] == 0
    assert out[("fr", "en")]["mismatch"] == 1
    assert out[("fr", "en")]["n_docs"] == 1


# --------------------------------------------------------------------------
# knn_recall_sq8_vs_exact (harness property via the operator)
# --------------------------------------------------------------------------


def test_sq8_recall_full_when_shortlist_covers(spark, tmp_path):
    """With shortlist >= corpus the stage-1 filter cannot lose anything,
    so the two-stage result equals exact top-k and recall@5 is 1.0 for
    every query."""
    import math

    rows = [
        (i, [math.cos(i * 0.37 + d) for d in range(8)], 0) for i in range(12)
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows], EMB_SCHEMA
    )
    from spark_hudi_etl_pipeline_spark.operators.similarity import topk_cosine

    q = emb.filter(F.col("vec_id") < 3)
    two_stage = sq8_rerank_topk(emb, q, dim=8, shortlist=12, k=5).select(
        "qid", "cid", "rank"
    )
    exact = topk_cosine(emb, q, corpus_id="vec_id", query_id="vec_id", k=5)
    a = {(r["qid"], r["rank"]): r["cid"] for r in two_stage.collect()}
    b = {(r["qid"], r["rank"]): r["cid"] for r in exact.collect()}
    assert a == b


# --------------------------------------------------------------------------
# quality_threshold_sweep
# --------------------------------------------------------------------------


def test_quality_threshold_sweep_edges(spark, tmp_path):
    rows = [
        (1, "a" * 10, "en", "s0", 10),          # short, low quality
        (2, ("the and is " * 40).strip(), "en", "s1", 440),  # healthy
        (3, "!!!! ???? ;;;; ::::", "en", "s2", 19),  # punctuation soup
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

    out = QUERIES["quality_threshold_sweep"](spark, str(tmp_path)).collect()
    assert len(out) == 21
    assert out[0]["threshold_pct"] == 0 and out[-1]["threshold_pct"] == 100
    # Threshold 0 keeps everything; rates are suffix-monotone.
    assert out[0]["kept_docs"] == 3 and out[0]["keep_rate_q"] == 10000
    docs = [r["kept_docs"] for r in out]
    assert docs == sorted(docs, reverse=True)
    chars = [r["kept_chars"] for r in out]
    assert chars == sorted(chars, reverse=True)
    # The healthy doc survives a mid sweep cut; the soup doc's bucket
    # dies before it.
    assert any(r["kept_docs"] == 1 for r in out)
