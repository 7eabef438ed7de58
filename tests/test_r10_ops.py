"""Round-10 analytics kernels: windowed sequential funnel, CUSUM
change-point, winsorized robust stats — planted-evidence fixtures for
exactly the cases the docstrings claim naive forms get wrong — plus
the split-rescue unit test of ``session.fan_out`` (the helper that
replaced ``spread_payload_rows``).
Cross-engine value parity is covered by the DuckDB oracles
(tools/oracle_check.py)."""

from __future__ import annotations

import datetime as dt

from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, path, rows):
    """rows: (user_id, event_type, ts[, value])."""
    data = [
        (i, r[2], r[0], r[1], float(r[3]) if len(r) > 3 else 0.0, "{}")
        for i, r in enumerate(rows)
    ]
    spark.createDataFrame(data, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")


def _t(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_funnel_stray_early_click_does_not_qualify(spark, tmp_path):
    """The exact case min-per-stage timestamps get wrong: user A's
    stray click PRECEDES the first view; the funnel must qualify on
    the later in-window click instead, and users whose click/purchase
    fall outside the 7-day windows (B, C), precede the qualifying
    click (E), or who never view (D) must not convert."""
    _write_events(
        spark,
        tmp_path,
        [
            # A: stray click d1 < view d2; qualifying click d5, purchase d8
            (1, "click", _t(1)),
            (1, "view", _t(2)),
            (1, "click", _t(5)),
            (1, "purchase", _t(8)),
            # B: click 10d after view — outside the 7d window
            (2, "view", _t(2, 6)),
            (2, "click", _t(12, 6)),
            (2, "purchase", _t(13)),
            # C: click qualifies, purchase 12d after it — outside
            (3, "view", _t(2, 12)),
            (3, "click", _t(3)),
            (3, "purchase", _t(15)),
            # D: never views — never enters
            (4, "click", _t(2)),
            (4, "purchase", _t(3)),
            # E: purchase BETWEEN view and qualifying click — sequence
            # order means it cannot convert
            (5, "view", _t(2, 8)),
            (5, "purchase", _t(2, 9)),
            (5, "click", _t(2, 10)),
        ],
    )
    rows = {
        r["cohort_day"].isoformat(): r
        for r in QUERIES["funnel_windowed_sequence"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {"2024-01-02"}
    r = rows["2024-01-02"]
    assert r["n_entered"] == 4  # A, B, C, E (not D)
    assert r["n_clicked"] == 3  # A (the d5 click, not d1), C, E
    assert r["n_purchased"] == 1  # A only
    assert r["conv_pm"] == 250


def test_funnel_equal_timestamp_stage_tiebreak(spark, tmp_path):
    """view/click/purchase at the SAME microsecond fold in stage order
    (the ×4+code encoding), so the user fully converts."""
    _write_events(
        spark,
        tmp_path,
        [(9, "view", _t(3)), (9, "click", _t(3)), (9, "purchase", _t(3))],
    )
    rows = QUERIES["funnel_windowed_sequence"](spark, str(tmp_path)).collect()
    assert [
        (r["cohort_day"].isoformat(), r["n_entered"], r["n_clicked"],
         r["n_purchased"], r["conv_pm"])
        for r in rows
    ] == [("2024-01-03", 1, 1, 1, 1000)]


def test_cusum_planted_level_shift(spark, tmp_path):
    """Type 'a': 5 events/day for 8 days then 50/day for 2 — mean 14,
    CUSUM crosses 3·mean=42 on day 10 (s: 0×8, 36, 72). Type 'b' is
    flat — never alarms, max excursion 0."""
    rows = []
    for day in range(1, 11):
        n_a = 5 if day <= 8 else 50
        rows += [(100 + i, "a", _t(day, 0)) for i in range(n_a)]
        rows += [(200 + i, "b", _t(day, 0)) for i in range(5)]
    _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: r
        for r in QUERIES["events_cusum_changepoint"](spark, str(tmp_path)).collect()
    }
    a, b = got["a"], got["b"]
    assert (a["n_days"], a["mean_daily"], a["max_cusum"], a["alarm_day_idx"]) == (
        10, 14, 72, 10,
    )
    assert (b["n_days"], b["mean_daily"], b["max_cusum"], b["alarm_day_idx"]) == (
        10, 5, 0, -1,
    )


def test_winsorized_planted_heavy_tail(spark, tmp_path):
    """98×$1.00 + one $0.01 + one $1000.00: both disc percentiles land
    on 100 cents, so the winsorized mean is exactly 100 (the raw mean
    would be 1098) and exactly one row clips on each side."""
    rows = [(i, "sale", _t(1 + i % 20, i % 24), 1.00) for i in range(98)]
    rows.append((98, "sale", _t(5), 0.01))
    rows.append((99, "sale", _t(6), 1000.00))
    _write_events(spark, tmp_path, rows)
    got = QUERIES["winsorized_event_stats"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n"], r["p05_cents"], r["p95_cents"]) == (100, 100, 100)
    assert r["winsorized_mean_cents"] == 100
    assert (r["n_clipped_low"], r["n_clipped_high"]) == (1, 1)


def test_winsorized_uniform_no_clipping(spark, tmp_path):
    """All-equal values: bounds collapse to the value, nothing clips."""
    _write_events(
        spark, tmp_path, [(i, "x", _t(1 + i % 5), 2.50) for i in range(40)]
    )
    r = QUERIES["winsorized_event_stats"](spark, str(tmp_path)).collect()[0]
    assert (r["p05_cents"], r["p95_cents"], r["winsorized_mean_cents"]) == (
        250, 250, 250,
    )
    assert (r["n_clipped_low"], r["n_clipped_high"]) == (0, 0)


def test_spread_payload_rows_rescues_only_split_starved(spark):
    """Split-starved scan (1 partition) → repartitioned to cores;
    a df already carrying ≥cores partitions passes through with its
    partitioning untouched (no shuffle inserted)."""
    from spark_hudi_etl_pipeline_spark.session import fan_out

    cores = spark.sparkContext.defaultParallelism
    starved = spark.range(100).coalesce(1)
    assert starved.rdd.getNumPartitions() == 1
    assert fan_out(starved).rdd.getNumPartitions() == cores

    wide = spark.range(1000).repartition(cores + 3)
    out = fan_out(wide)
    assert out is wide  # passthrough, not merely same-count
