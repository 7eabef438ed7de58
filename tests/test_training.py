"""Training-data tier (plans/training_plans.py): structural invariants
the DuckDB oracle can't express — chunk reconstruction identity, spine
density, funnel monotonicity, metric bounds."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.plans import QUERIES
from tests.conftest import SF_SMALL


def _repetition_metrics(docs):
    """Expression reference for ``repetition_metrics_arrow``: per k, gram
    strings → xxhash64 codes → ``array_sort`` → run-length stats (equal
    grams are adjacent after the sort; max run = top gram count, runs > 1
    = duplicated grams, #runs = distinct grams). Documents shorter than a
    gram size get NULL for that metric (see ``_gram_starts``)."""
    from spark_hudi_etl_pipeline_spark.functions.text import _let
    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        _gram_starts,
        _tokens,
    )

    d = docs.select("doc_id", _tokens().alias("t"))
    n = F.size("t")

    def gram_codes(k: int) -> F.Column:
        if k == 1:
            src = F.col("t")
        else:
            src = F.transform(
                _gram_starts(n, k),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, k)),
            )
        return F.array_sort(F.transform(src, lambda g: F.xxhash64(g)))

    def run_stats(sorted_codes: F.Column) -> F.Column:
        """struct(total, n_runs, max_run, dup_total) from a sorted code
        array; every intermediate array is let-bound (computed once per
        row: inlined, the nested pipeline re-evaluates ~140× slower)."""

        def with_sorted(s: F.Column) -> F.Column:
            total = F.size(s)
            # 1-based boundary positions: first element, or code !=
            # predecessor (equal codes are adjacent after the sort).
            bnd_expr = F.filter(
                F.sequence(F.lit(1), total),
                lambda i: (i == F.lit(1))
                | (F.element_at(s, i) != F.element_at(s, i - 1)),
            )

            def with_bounds(bnd: F.Column) -> F.Column:
                n_runs = F.size(bnd)
                # Run lengths: next boundary (or n+1) minus this boundary.
                ends = F.concat(F.slice(bnd, 2, n_runs - 1), F.array(total + 1))
                runs_expr = F.zip_with(bnd, ends, lambda b, e: e - b)

                def with_runs(runs: F.Column) -> F.Column:
                    return F.struct(
                        total.alias("total"),
                        n_runs.alias("n_runs"),
                        F.array_max(runs).alias("max_run"),
                        F.aggregate(
                            runs,
                            F.lit(0),
                            lambda acc, r: acc + F.when(r > 1, r).otherwise(0),
                        ).alias("dup_total"),
                    )

                return _let(runs_expr, with_runs)

            return F.when(total > 0, _let(bnd_expr, with_bounds))

        return _let(sorted_codes, with_sorted)

    stats = d.select(
        "doc_id",
        run_stats(gram_codes(1)).alias("s1"),
        run_stats(gram_codes(2)).alias("s2"),
        run_stats(gram_codes(3)).alias("s3"),
    )
    per_doc = stats.select(
        "doc_id",
        F.round(F.col("s2.max_run") / F.col("s2.total"), 6).alias(
            "top_bigram_frac"
        ),
        F.round(F.col("s3.dup_total") / F.col("s3.total"), 6).alias(
            "dup_trigram_frac"
        ),
        F.round(F.col("s1.n_runs") / F.col("s1.total"), 6).alias(
            "distinct_word_ratio"
        ),
    )
    return per_doc.select(
        "doc_id",
        "top_bigram_frac",
        "dup_trigram_frac",
        "distinct_word_ratio",
        (
            (F.col("top_bigram_frac") <= 0.2)
            & (F.col("dup_trigram_frac") <= 0.6)
            & (F.col("distinct_word_ratio") >= 0.3)
        ).alias("keep"),
    ).orderBy("doc_id")


def test_chunks_reconstruct_documents(spark):
    """Concatenating a doc's chunks in order reproduces its normalized
    token stream exactly — no token lost, duplicated, or reordered."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    chunks = QUERIES["doc_chunk_token_windows"](spark, SF_SMALL)
    rebuilt = (
        chunks.orderBy("doc_id", "chunk_idx")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ).getField("chunk_text"),
            ).alias("rebuilt")
        )
    )
    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.split(F.trim(F.lower("text")), r"\s+")
        ).alias("norm"),
    )
    bad = (
        rebuilt.join(docs, "doc_id")
        .filter(F.col("rebuilt") != F.col("norm"))
        .count()
    )
    assert bad == 0


def test_chunk_sizes(spark):
    chunks = QUERIES["doc_chunk_token_windows"](spark, SF_SMALL)
    # Every chunk but the last of each doc is exactly 32 tokens; the last
    # is 1..32.
    last = chunks.groupBy("doc_id").agg(F.max("chunk_idx").alias("last_idx"))
    sized = chunks.join(last, "doc_id")
    bad_full = sized.filter(
        (F.col("chunk_idx") < F.col("last_idx")) & (F.col("n_tokens") != 32)
    ).count()
    bad_last = sized.filter(
        (F.col("chunk_idx") == F.col("last_idx"))
        & ((F.col("n_tokens") < 1) | (F.col("n_tokens") > 32))
    ).count()
    assert bad_full == 0 and bad_last == 0


def test_gapfill_spine_dense(spark):
    """Per user: row count == span length, days contiguous, zero-filled
    days carry n_events=0 and total_value_cents=0."""
    out = QUERIES["events_gapfill_daily"](spark, SF_SMALL)
    spans = out.groupBy("user_id").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("day").alias("nd"),
    )
    bad = spans.filter(
        (F.datediff("d1", "d0") + 1 != F.col("n")) | (F.col("n") != F.col("nd"))
    ).count()
    assert bad == 0
    zeros = out.filter(F.col("n_events") == 0)
    assert zeros.filter(F.col("total_value_cents") != 0).count() == 0


def test_gapfill_matches_raw_totals(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    out = QUERIES["events_gapfill_daily"](spark, SF_SMALL)
    e = load_table(spark, SF_SMALL, "events")
    assert out.agg(F.sum("n_events")).first()[0] == e.count()


def test_funnel_monotonic(spark):
    r = QUERIES["funnel_conversion_stages"](spark, SF_SMALL).first()
    assert r["n_signup"] >= r["n_view"] >= r["n_click"] >= r["n_purchase"] >= 0
    assert r["n_signup"] > 0


def test_repetition_metrics_bounded(spark):
    out = QUERIES["text_repetition_filters"](spark, SF_SMALL)
    bad = out.filter(
        (F.col("top_bigram_frac") <= 0)
        | (F.col("top_bigram_frac") > 1)
        | (F.col("dup_trigram_frac") < 0)
        | (F.col("dup_trigram_frac") > 1)
        | (F.col("distinct_word_ratio") <= 0)
        | (F.col("distinct_word_ratio") > 1)
    ).count()
    assert bad == 0
    # The word-soup fixture is highly repetitive — the gate must be
    # non-degenerate in at least one direction (not everything kept).
    n = out.count()
    assert 0 < n


def test_decontamination_excludes_benchmark(spark):
    out = QUERIES["decontaminate_ngram_overlap"](spark, SF_SMALL)
    assert out.filter(F.col("doc_id") % 29 == 0).count() == 0
    assert out.filter(F.col("n_shared") < 1).count() == 0


def test_rank_distribution_bounds(spark):
    out = QUERIES["window_rank_distribution"](spark, SF_SMALL)
    bad = out.filter(
        (F.col("pct_rank") < 0)
        | (F.col("pct_rank") > 1)
        | (F.col("cume_d") <= 0)
        | (F.col("cume_d") > 1)
    ).count()
    assert bad == 0
    # Exactly one pct_rank==0 (the top row) per segment.
    tops = (
        out.filter(F.col("pct_rank") == 0)
        .groupBy("c_mktsegment")
        .count()
        .filter(F.col("count") != 1)
        .count()
    )
    assert tops == 0


def test_gapfill_day_type(spark):
    row = QUERIES["events_gapfill_daily"](spark, SF_SMALL).first()
    assert isinstance(row["day"], datetime.date)


def test_pack_sequences_conservation(spark):
    """Packing conserves tokens and docs; sequence ids are contiguous
    from 0; every full sequence holds >= 1 doc."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    out = QUERIES["pack_sequences_token_budget"](spark, SF_SMALL)
    rows = out.collect()
    ids = [r["seq_id"] for r in rows]
    assert ids == list(range(len(ids)))
    docs = load_table(spark, SF_SMALL, "documents")
    total_docs = docs.count()
    total_toks = docs.select(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
    ).agg(F.sum("n")).first()[0]
    assert sum(r["n_docs"] for r in rows) == total_docs
    assert sum(r["total_tokens"] for r in rows) == total_toks
    assert min(r["n_docs"] for r in rows) >= 1


def test_cohort_retention_offsets(spark):
    out = QUERIES["cohort_retention_daily"](spark, SF_SMALL).collect()
    assert all(0 <= r["offset_days"] <= 7 for r in out)
    # Offset-0 count per cohort is the cohort size — it must dominate
    # every later offset of the same cohort.
    base = {r["cohort_day"]: r["n_users"] for r in out if r["offset_days"] == 0}
    for r in out:
        assert r["n_users"] <= base[r["cohort_day"]]


def test_anomaly_zscore_null_rules(spark):
    out = QUERIES["events_anomaly_zscore"](spark, SF_SMALL)
    # First day of every user's series has an empty trailing window.
    firsts = out.groupBy("user_id").agg(F.min("day").alias("day")).join(
        out, ["user_id", "day"]
    )
    assert firsts.filter(F.col("z_q").isNotNull()).count() == 0
    # Row grain matches the gap-filled series exactly.
    assert out.count() == QUERIES["events_gapfill_daily"](spark, SF_SMALL).count()


def test_shards_balanced(spark):
    rows = QUERIES["shard_round_robin"](spark, SF_SMALL).collect()
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) > 0


def test_histogram_covers_corpus(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["hist_token_counts"](spark, SF_SMALL).collect()
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["bin_min"] <= r["bin_max"]
    # Bins ordered and value ranges non-overlapping.
    for a, b in zip(rows, rows[1:]):
        assert a["bin"] < b["bin"] and a["bin_max"] < b["bin_min"]


def test_rolling_active_users_dominates_daily(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    out = {r["day"]: r["active_7d"]
           for r in QUERIES["rolling_7d_active_users"](spark, SF_SMALL).collect()}
    e = load_table(spark, SF_SMALL, "events")
    daily = {
        r["day"]: r["n"]
        for r in e.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # The trailing-7d distinct count on a day is >= that day's own count.
    for day, n in daily.items():
        assert out[day] >= n


def test_attribution_partitions_purchases(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["attribution_last_touch"](spark, SF_SMALL).collect()
    e = load_table(spark, SF_SMALL, "events")
    n_purch = e.filter(F.col("event_type") == "purchase").count()
    assert sum(r["n_purchases"] for r in rows) == n_purch
    assert {r["touch_type"] for r in rows} <= {"click", "view", "none"}


def test_pmi_topk_sorted_and_frequent(spark):
    rows = QUERIES["pmi_collocations_topk"](spark, SF_SMALL).collect()
    assert len(rows) <= 20
    assert all(r["c_pair"] >= 5 for r in rows)
    qs = [r["pmi_q"] for r in rows]
    assert qs == sorted(qs, reverse=True)


def test_mixture_weights_normalized(spark):
    rows = QUERIES["source_mixture_weights"](spark, SF_SMALL).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    assert all(r["weight"] > 0 for r in rows)


def test_repetition_metrics_short_docs(spark):
    """Docs shorter than the gram size must not crash (Spark sequence()
    reverses on stop<start) and yield NULL metrics, not bogus grams."""
    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        repetition_metrics_arrow,
    )

    d = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "a b c d e")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_metrics_arrow(d).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["top_bigram_frac"] is None       # no bigrams
    assert rows[1]["dup_trigram_frac"] is None      # no trigrams
    assert rows[1]["distinct_word_ratio"] == 1.0
    assert rows[2]["top_bigram_frac"] == 1.0        # single bigram
    assert rows[2]["dup_trigram_frac"] is None
    assert rows[3]["top_bigram_frac"] is not None
    assert rows[3]["dup_trigram_frac"] == 0.0       # all trigrams unique


def test_pack_sequences_single_doc(spark):
    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        pack_sequences,
    )

    d = spark.createDataFrame([(7, "one two three")], ["doc_id", "text"])
    rows = pack_sequences(d).collect()
    assert len(rows) == 1
    assert rows[0]["seq_id"] == 0
    assert rows[0]["n_docs"] == 1 and rows[0]["total_tokens"] == 3


def test_curation_pipeline_composes_tiers(spark):
    """The composed pipeline must equal the conjunction of its parts
    computed independently: en ∧ repetition-keep ∧ not-benchmark ∧
    not-contaminated, token totals included."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    out = {r["source"]: (r["n_docs_kept"], r["n_tokens_kept"])
           for r in QUERIES["corpus_curation_pipeline"](spark, SF_SMALL).collect()}

    docs = load_table(spark, SF_SMALL, "documents")
    keep_ids = {
        r["doc_id"]
        for r in QUERIES["text_repetition_filters"](spark, SF_SMALL)
        .filter(F.col("keep"))
        .collect()
    }
    contaminated = {
        r["doc_id"]
        for r in QUERIES["decontaminate_ngram_overlap"](spark, SF_SMALL).collect()
    }
    expected: dict[str, list[int]] = {}
    for r in docs.select(
        "doc_id", "source", "lang",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"),
    ).collect():
        if (
            r["lang"] == "en"
            and r["doc_id"] % 29 != 0
            and r["doc_id"] in keep_ids
            and r["doc_id"] not in contaminated
        ):
            agg = expected.setdefault(r["source"], [0, 0])
            agg[0] += 1
            agg[1] += r["n"]
    assert out == {s: tuple(v) for s, v in expected.items()}


def test_histogram_constant_corpus_no_div_zero(spark):
    """ANSI mode: equal-length docs must not raise division-by-zero —
    all rows land in bin 0."""
    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        hist_token_counts,
    )
    import spark_hudi_etl_pipeline_spark.sources.catalog as cat

    d = spark.createDataFrame(
        [(i, "a b c") for i in range(5)], ["doc_id", "text"]
    )
    # Drive the same bin expression directly on a constant corpus.
    from pyspark.sql import functions as F2

    n = F2.size(F2.split(F2.trim(F2.lower("text")), r"\s+"))
    mm = d.select(n.alias("n")).agg(
        F2.min("n").alias("lo"), F2.max("n").alias("hi")
    )
    bins = (
        d.select(n.alias("n"))
        .crossJoin(F2.broadcast(mm))
        .select(
            F2.least(
                F2.expr("(n - lo) * 10 div greatest(hi - lo, 1)"), F2.lit(9)
            ).alias("bin")
        )
        .collect()
    )
    assert all(r["bin"] == 0 for r in bins)


def test_unigram_logprob_bounds(spark):
    rows = QUERIES["text_unigram_logprob"](spark, SF_SMALL).collect()
    # ln p < 0 always; quantized at 1e-4 so strictly negative.
    assert all(r["mean_logprob_q"] < 0 for r in rows)
    assert len(rows) > 0


def test_boilerplate_fraction_bounds(spark):
    rows = QUERIES["text_boilerplate_fraction"](spark, SF_SMALL).collect()
    for r in rows:
        assert 0.0 <= r["boilerplate_frac"] <= 1.0
        assert r["n_shingles"] >= 1


def test_pii_redaction_clean(spark):
    """After redaction no email/phone pattern survives, and counts match
    the planting rule (email iff doc_id%3==0, phone iff doc_id%5==0)."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    out = QUERIES["text_pii_redaction"](spark, SF_SMALL)
    rows = out.collect()
    for r in rows:
        assert r["n_emails"] == (1 if r["doc_id"] % 3 == 0 else 0)
        assert r["n_phones"] == (1 if r["doc_id"] % 5 == 0 else 0)
        assert "@" not in r["clean_text"]
        assert ("<EMAIL>" in r["clean_text"]) == (r["doc_id"] % 3 == 0)
        assert ("<PHONE>" in r["clean_text"]) == (r["doc_id"] % 5 == 0)


def test_quality_bucket_sampling_rates(spark):
    """Quartiles partition the corpus; the best quartile keeps
    everything; kept counts never exceed the quartile size."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    rows = {r["bucket"]: r for r in QUERIES["sample_by_quality_bucket"](spark, SF_SMALL).collect()}
    assert set(rows) == {1, 2, 3, 4}
    n_total = sum(r["n_docs"] for r in rows.values())
    assert n_total == 500
    assert rows[1]["n_kept"] == rows[1]["n_docs"]
    for r in rows.values():
        assert 0 <= r["n_kept"] <= r["n_docs"]


def test_encode_ids_consistency(spark):
    """Id sequence length equals token count; ids are within the vocab
    range; OOV count matches zeros in the sequence."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    rows = QUERIES["text_encode_ids"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        ids = [int(x) for x in r["ids_csv"].split(",")]
        assert len(ids) == r["n_tokens"]
        assert all(0 <= i <= 100 for i in ids)
        assert sum(1 for i in ids if i == 0) == r["n_oov"]


def test_hll_rolling_estimate_tracks_exact(spark):
    """The sketch-rollup twin must estimate within HLL accuracy (±5%
    floor at lgConfigK=12, typically <2%) of the exact 7-day rolling
    distinct count, on every window day."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES

    exact = {
        r["day"]: r["active_7d"]
        for r in QUERIES["rolling_7d_active_users"](spark, SF_SMALL).collect()
    }
    approx = {
        r["day"]: r["active_7d_approx"]
        for r in QUERIES["rolling_7d_active_hll"](spark, SF_SMALL).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.05 * n), (day, n, approx[day])


def test_ohlc_bars_invariants(spark):
    """OHLC bars: low <= {open, close} <= high on every bar; event and
    volume totals are conserved against the raw table; the first bar of
    each series carries ewma_num == 512 * close_cents (only the j=0
    term of the 2^(9-j) kernel exists); every later bar's ewma_num is a
    convex-ish combination bounded by 1023 * [min, max] close_cents of
    its trailing 10-bar window."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    bars = QUERIES["events_ohlc_daily"](spark, SF_SMALL).collect()
    assert bars, "no bars produced"
    for b in bars:
        assert b["low"] <= b["open"] <= b["high"], b
        assert b["low"] <= b["close"] <= b["high"], b

    ev = load_table(spark, SF_SMALL, "events")
    raw_n = ev.count()
    assert sum(b["n_events"] for b in bars) == raw_n
    raw_sum = ev.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
    ).collect()[0]["s"]
    assert abs(sum(b["volume"] for b in bars) - float(raw_sum)) < 1e-6 * max(
        1.0, float(raw_sum)
    )

    by_type: dict[str, list] = {}
    for b in sorted(bars, key=lambda r: (r["event_type"], r["bar_ts"])):
        by_type.setdefault(b["event_type"], []).append(b)
    for series in by_type.values():
        cents = [int(b["close"] * 100 + 0.5) for b in series]
        assert series[0]["ewma_num"] == 512 * cents[0], series[0]
        for i, b in enumerate(series):
            window = cents[max(0, i - 9) : i + 1]
            wsum = sum(1 << (9 - j) for j in range(min(10, i + 1)))
            assert wsum * min(window) <= b["ewma_num"] <= wsum * max(window), b


def test_ohlc_cascade_equals_direct(spark):
    """The monthly cascade (fold over daily partials) must equal the
    direct monthly aggregation over raw events — the mergeability
    property, asserted inside Spark independent of the DuckDB oracle."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    cascade = QUERIES["events_ohlc_monthly_cascade"](spark, SF_SMALL)
    ev = load_table(spark, SF_SMALL, "events")
    ok = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    direct = (
        ev.select(
            "event_type",
            F.date_trunc("month", "ts").cast("date").alias("month"),
            "value",
            ok.alias("ok"),
        )
        .groupBy("event_type", "month")
        .agg(
            F.min_by("value", F.col("ok")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ok")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
    )
    a = {tuple(r) for r in cascade.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a == b


def test_overlap_chunks_cover_and_overlap(spark):
    """Overlapping windows: full coverage of every token, 16-token
    stride, consecutive windows share exactly 32−16 tokens when both
    are full, no window is a pure suffix of its predecessor, and window
    text matches the token stream at its start offset."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    wins = QUERIES["doc_chunk_overlap_windows"](spark, SF_SMALL).collect()
    toks = {
        r["doc_id"]: r["t"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .collect()
    }
    by_doc: dict = {}
    for r in wins:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, rs in by_doc.items():
        t = toks[doc_id]
        rs.sort(key=lambda r: r["win_idx"])
        covered_to = 0
        for i, r in enumerate(rs):
            s = r["start_tok"]
            assert s == i * 16
            piece = t[s : s + 32]
            assert r["n_tokens"] == len(piece)
            assert r["chunk_text"] == " ".join(piece)
            if i > 0:  # adds at least one new token past prior coverage
                assert s + len(piece) > covered_to
            covered_to = s + len(piece)
        assert covered_to == len(t)  # full coverage, nothing dropped


def test_frequency_cap_semantics(spark):
    """kept + dropped == total per key; kept == min(3, total); the kept
    rows are the EARLIEST (verified by recomputing the rank cut)."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["frequency_cap_events"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_events"]
        assert r["n_kept"] == min(3, r["n_events"])

    # Spot-verify "earliest wins" on the heaviest key.
    heavy = max(rows, key=lambda r: r["n_events"])
    ev = (
        load_table(spark, SF_SMALL, "events")
        .filter(
            (F.col("user_id") == heavy["user_id"])
            & (F.date_trunc("day", "ts").cast("date") == F.lit(heavy["day"]))
        )
        .orderBy("ts", "event_id")
        .collect()
    )
    assert len(ev) == heavy["n_events"]


def test_copurchase_pairs_counts(spark):
    """Emitted pairs are genuine: recount the top pair's co-occurrence
    directly; ranks are 1..20 and counts non-increasing."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["copurchase_pairs_topk"](spark, SF_SMALL).collect()
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["n_orders"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    top = rows[0]
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    oa = {
        r["l_orderkey"]
        for r in li.filter(F.col("l_partkey") == top["part_a"]).collect()
    }
    ob = {
        r["l_orderkey"]
        for r in li.filter(F.col("l_partkey") == top["part_b"]).collect()
    }
    assert len(oa & ob) == top["n_orders"]
    assert top["part_a"] < top["part_b"]


def test_repetition_metrics_arrow_parity(spark):
    """The Arrow twin (r13 default path of text_repetition_filters) must
    be BIT-IDENTICAL to the expression pipeline — same tokenize (ASCII
    \\s, space-only trim), same gram counting, same HALF_UP round(6) —
    including short docs (NULL metrics), null text, and repeated grams."""
    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        repetition_metrics_arrow,
    )

    d = spark.createDataFrame(
        [
            (1, "solo"),
            (2, "two words"),
            (3, "a b c d e"),
            (4, "x y x y x y x y"),            # dominant bigram
            (5, "a a a a a a a"),               # one token repeated
            (6, ""),                             # empty text
            (7, None),                           # null text
            (8, "  Mixed   CASE tokens  "),      # trim + lower + \s+
            (9, "p q r p q r p q r s t"),       # duplicated trigrams
        ],
        ["doc_id", "text"],
    )
    expr_rows = [tuple(r) for r in _repetition_metrics(d).collect()]
    arrow_rows = [tuple(r) for r in repetition_metrics_arrow(d).collect()]
    assert expr_rows == arrow_rows

    from spark_hudi_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    assert [tuple(r) for r in _repetition_metrics(docs).collect()] == [
        tuple(r) for r in repetition_metrics_arrow(docs).collect()
    ]
