"""Structured Streaming tier: interval joins, chained window rollups and
foreachBatch sinks — each stream result cross-checked against the
equivalent batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.sources import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events fixture re-written as a plain-timestamp parquet dir the
    file-stream source can consume (original is TIMESTAMP(NANOS))."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, SF_SMALL, "events").write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in")


def events_file_stream(spark, dir_path):
    """File-source stream over a directory of events parquet files, with
    the schema of the files already there (a stream declares its schema
    up front): each arriving file is a micro-batch."""
    return spark.readStream.schema(spark.read.parquet(dir_path).schema).parquet(
        dir_path
    )


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join: real two-stream drain must equal the
    batch interval join of the same rows (inner-join parity contract)."""
    from spark_hudi_etl_pipeline_spark.streaming import interval_join

    src = str(tmp_path / "ssj_in")
    rows = [
        # user 1: click at 00:00 -> purchases at 00:30 (match) and 02:00 (out of bound)
        (1, "2024-01-01 00:00:00", 1, "click", 0.0, "{}"),
        (2, "2024-01-01 00:30:00", 1, "purchase", 9.5, "{}"),
        (3, "2024-01-01 02:00:00", 1, "purchase", 1.0, "{}"),
        # user 2: purchase before the click — no match
        (4, "2024-01-01 00:10:00", 2, "purchase", 3.0, "{}"),
        (5, "2024-01-01 00:20:00", 2, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(src)

    def sides(frame):
        clicks = frame.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
        purchases = frame.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
        )
        return clicks, purchases

    on = F.col("user_id") == F.col("p_user_id")
    kwargs = dict(left_time="click_ts", right_time="purchase_ts", upper="1 HOUR")

    bc, bp = sides(spark.read.parquet(src))
    batch = {
        (r["click_id"], r["purchase_id"])
        for r in interval_join(bc, bp, on, **kwargs).collect()
    }
    assert batch == {(1, 2)}

    sc, sp = sides(events_file_stream(spark, src))
    q = (
        interval_join(sc, sp, on, **kwargs)
        .writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["click_id"], r["purchase_id"]) for r in spark.table("t_ssj").collect()
    }
    assert streamed == batch


def test_outer_interval_join_emits_unmatched_after_eviction(spark, tmp_path):
    """left_outer interval join: a click with no purchase in its bound
    emits null purchase columns — but only once the watermark proves no
    match can arrive. A far-future row on each side advances both
    watermarks so the drain flushes every outer result."""
    from spark_hudi_etl_pipeline_spark.streaming import interval_join

    src = str(tmp_path / "ssj_outer_in")
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0, "{}"),
        (2, "2024-01-01 00:30:00", 1, "purchase", 9.5, "{}"),
        # user 2: click with NO purchase in bound -> outer null row
        (5, "2024-01-01 00:20:00", 2, "click", 0.0, "{}"),
        # watermark sentinels (filtered from the assertion)
        (-1, "2024-01-02 00:00:00", -1, "click", 0.0, "{}"),
        (-2, "2024-01-02 00:00:00", -2, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(src)

    frame = events_file_stream(spark, src)
    clicks = frame.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = frame.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
    )
    q = (
        interval_join(
            clicks,
            purchases,
            F.col("user_id") == F.col("p_user_id"),
            left_time="click_ts",
            right_time="purchase_ts",
            upper="1 HOUR",
            how="left_outer",
        )
        .writeStream.format("memory")
        .queryName("t_ssj_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table("t_ssj_outer").filter(F.col("user_id") >= 0).collect()
    }
    assert got == {(1, 2), (5, None)}


def test_chained_rollup_stream_matches_batch(spark, events_dir):
    """Two chained stateful aggregations in one streaming query must
    equal the identical batch computation (windows/window_time work in
    both modes); sentinel row pushes the watermark so append mode
    finalizes every real window."""
    from spark_hudi_etl_pipeline_spark.streaming.windows import (
        chained_window_rollup,
    )

    batch_ev = spark.read.parquet(events_dir)
    expected = {
        tuple(r)
        for r in chained_window_rollup(batch_ev)
        .filter(F.col("w_start").isNotNull())
        .collect()
    }
    max_ts = batch_ev.agg(F.max("ts")).first()[0]
    sent_dir = events_dir + "_sentinel"
    batch_ev.unionByName(
        spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(max_ts) + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).select(*batch_ev.columns)
    ).coalesce(1).write.mode("overwrite").parquet(sent_dir)
    out = (
        chained_window_rollup(events_file_stream(spark, sent_dir))
        .filter(F.col("w_start") <= F.lit(max_ts))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_chained")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.table("t_chained").collect()}
    assert got == expected


def test_interval_join_derived_anti_equals_native_on_batch(spark):
    """The left_anti derivation (outer + null filter) must equal a
    native anti join on batch inputs — the equivalence that lets the
    DuckDB NOT EXISTS oracle check the streaming form."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.streaming.windows import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "u"), (2, "2024-01-01 12:00:00", "u"),
         (3, "2024-01-01 10:30:00", "v")],
        "id long, lts string, k string",
    ).select("id", F.col("lts").cast("timestamp").alias("lts"), "k")
    right = spark.createDataFrame(
        [("2024-01-01 10:20:00", "u"), ("2024-01-01 09:00:00", "v")],
        "rts string, rk string",
    ).select(F.col("rts").cast("timestamp").alias("rts"), "rk")
    derived = interval_join(
        left, right, F.col("k") == F.col("rk"),
        left_time="lts", right_time="rts", upper="1 hour", how="left_anti",
    )
    bound = (F.col("rts") >= F.col("lts")) & (
        F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 hour")
    )
    native = left.join(right, (F.col("k") == F.col("rk")) & bound, "left_anti")
    assert {r["id"] for r in derived.collect()} == {
        r["id"] for r in native.collect()
    } == {2, 3}
    assert derived.columns == left.columns


def test_ohlc_state_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch id must not double-count: applying the
    same (batch_df, batch_id) twice leaves the state identical."""
    from spark_hudi_etl_pipeline_spark.operators.maintenance import merge_ohlc
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from spark_hudi_etl_pipeline_spark.streaming.windows import (
        foreach_batch_ohlc_append,
    )
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").limit(200)
    state = str(tmp_path / "state")
    sink = foreach_batch_ohlc_append(state, run_tag="t")
    sink(ev, 0)
    once = sorted(
        tuple(r) for r in merge_ohlc(spark.read.parquet(state).drop("src")).collect()
    )
    sink(ev, 0)  # checkpoint-recovery replay
    twice = sorted(
        tuple(r) for r in merge_ohlc(spark.read.parquet(state).drop("src")).collect()
    )
    assert once == twice
    # A genuinely new batch id DOES land.
    sink(ev, 1)
    n_src = (
        spark.read.parquet(state).select("src").distinct().count()
    )
    assert n_src == 2


def test_ohlc_partial_merge_split_invariant(spark):
    """merge(partial(A), partial(B)) == partial(A ∪ B) for an arbitrary
    split — the mergeability contract the streaming ingest rests on."""
    from spark_hudi_etl_pipeline_spark.operators.maintenance import (
        merge_ohlc,
        ohlc_partial,
    )
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    whole = sorted(tuple(r) for r in ohlc_partial(ev).collect())
    a = ohlc_partial(ev.filter(F.col("event_id") % 3 == 0))
    b = ohlc_partial(ev.filter(F.col("event_id") % 3 != 0))
    merged = sorted(tuple(r) for r in merge_ohlc(a.unionByName(b)).collect())
    assert whole == merged
