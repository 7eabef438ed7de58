"""As-of join semantics."""

from __future__ import annotations

from spark_hudi_etl_pipeline_spark.operators.latest import asof_join


def test_asof_join_basic(spark):
    """Each left row gets the newest right value at-or-before its ts."""
    trades = spark.createDataFrame(
        [("A", 3), ("A", 7), ("A", 12), ("B", 5)],
        "sym string, t long",
    )
    quotes = spark.createDataFrame(
        [("A", 2, 100.0), ("A", 7, 101.0), ("A", 10, 102.0), ("B", 9, 50.0)],
        "sym string, qt long, px double",
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt", right_values=["px"]
    )
    got = {(r["sym"], r["t"]): r["px"] for r in out.collect()}
    assert got == {
        ("A", 3): 100.0,
        ("A", 7): 101.0,   # boundary: right row at exactly left_ts is visible
        ("A", 12): 102.0,
        ("B", 5): None,    # no quote at-or-before t=5
    }


def test_asof_join_preserves_left_rowcount(spark):
    trades = spark.createDataFrame([("A", i) for i in range(100)], "sym string, t long")
    quotes = spark.createDataFrame([("A", 50, 1.0)], "sym string, qt long, px double")
    out = asof_join(trades, quotes, on=["sym"], left_ts="t", right_ts="qt", right_values=["px"])
    rows = out.collect()
    assert len(rows) == 100
    matched = [r for r in rows if r["px"] is not None]
    assert len(matched) == 50  # t in [50, 99]


def test_scd2_pit_join_no_future_leakage(spark):
    """Point-in-time correctness: a status change AFTER the purchase
    must never reach it, and purchases before any status read 'unknown'."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.latest import asof_join

    dim = spark.createDataFrame(
        [(1, "bronze", "2024-01-01 00:00:00"),
         (1, "gold", "2024-01-05 00:00:00")],
        "user_id long, status string, effective_from string",
    ).withColumn("effective_from", F.col("effective_from").cast("timestamp"))
    facts = spark.createDataFrame(
        [(100, 1, "2023-12-25 00:00:00"),   # before any version
         (101, 1, "2024-01-03 00:00:00"),   # bronze era
         (102, 1, "2024-01-05 00:00:00"),   # exactly at the change: new version applies
         (103, 1, "2024-02-01 00:00:00")],  # gold era
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["event_id"]: r["status"]
        for r in asof_join(
            facts, dim, ["user_id"], "ts", "effective_from", ["status"]
        ).collect()
    }
    assert got == {100: None, 101: "bronze", 102: "gold", 103: "gold"}


def test_asof_right_value_name_collision_raises(spark):
    """right_values sharing a name with a left column would emit
    duplicate output columns (ambiguous downstream) — both as-of
    variants refuse at build time (r7 ADVICE, latest.py:87)."""
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.latest import (
        asof_join,
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, 10, 5.0)], "k long, ts long, value double"
    )
    right = spark.createDataFrame(
        [(1, 9, 7.0)], "k long, rts long, value double"
    )
    for fn in (asof_join, asof_join_forward):
        with pytest.raises(ValueError, match="collide"):
            fn(left, right, ["k"], "ts", "rts", ["value"])
    # Renamed right value: joins fine, names unambiguous.
    out = asof_join(
        left, right.withColumnRenamed("value", "r_value"),
        ["k"], "ts", "rts", ["r_value"],
    ).collect()
    assert [(r["value"], r["r_value"]) for r in out] == [(5.0, 7.0)]


def test_asof_tolerance_nulls_stale_matches(spark):
    """merge_asof(tolerance=...) semantics: the latest prior match
    attaches only within the tolerance window; staler matches null out
    (left rows survive — it's still a left as-of)."""
    from spark_hudi_etl_pipeline_spark.operators.latest import asof_join

    left = spark.createDataFrame(
        [(1, 100, "k"), (2, 250, "k"), (3, 400, "k")],
        "id long, ts long, k string",
    )
    right = spark.createDataFrame(
        [(90, "k", 1.0), (200, "k", 2.0)], "rts long, k string, v double"
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, ["k"], "ts", "rts", ["v"], tolerance_seconds=60
        ).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: None}  # 400-200=200 > 60 → stale
