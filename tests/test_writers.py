"""Layout writers: bucketed joins must drop the shuffle; partitioned
scans must prune directories at plan time."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.sources import load_table
from spark_hudi_etl_pipeline_spark.sources.writers import write_bucketed
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    o = load_table(spark, SF_SMALL, "orders")
    l = load_table(spark, SF_SMALL, "lineitem")
    write_bucketed(o, "t_orders_b", bucket_cols=["o_orderkey"], n_buckets=8,
                   sort_cols=["o_orderkey"])
    write_bucketed(l, "t_lineitem_b", bucket_cols=["l_orderkey"], n_buckets=8,
                   sort_cols=["l_orderkey"])
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        with_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
            plan = _plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_thresh)
        assert "SortMergeJoin" in plan
        # Bucket spec satisfies the join's required distribution on both
        # sides: no exchange anywhere in the plan.
        assert "Exchange" not in plan, plan
        # and the join result is correct
        assert joined.count() == l.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_dynamic_partition_pruning(spark, tmp_path):
    """Partitioned fact joined to a filtered dim: the partition filter is
    derived at RUNTIME from the dim side (dynamicpruning subquery in the
    scan) — at 100 TB this is the difference between scanning one
    partition directory and all of them."""
    o = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_by_status")
    o.write.partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    with_dpp = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    assert with_dpp == "true"  # session default keeps DPP on
    # Join keyed on the partition column so DPP applies.
    per_status = fact.groupBy("o_orderstatus").count().filter(F.col("count") > 0)
    joined = fact.join(
        fact.select("o_orderstatus").distinct().limit(1).withColumnRenamed(
            "o_orderstatus", "status_pick"
        ),
        F.col("o_orderstatus") == F.col("status_pick"),
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower() or "PartitionFilters" in plan
    assert per_status.count() >= 1


def test_hidden_partitioning_prunes_directories(spark, tmp_path):
    """Hidden partitioning: a raw ts-range read derives PartitionFilters
    (directory pruning, no partition column in the user query or the
    result), and results equal the unpartitioned filter exactly."""
    import datetime

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.sources import load_table
    from spark_hudi_etl_pipeline_spark.sources.writers import (
        hidden_day,
        read_hidden_day_range,
        write_hidden_partitioned,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "hidden")
    write_hidden_partitioned(ev, path, source_col="ts", transform=hidden_day)
    lo, hi = "2024-01-05 00:00:00", "2024-01-08 00:00:00"
    scan = read_hidden_day_range(spark, path, source_col="ts", lo=lo, hi=hi)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "__p" in plan.split("PartitionFilters")[1][:200]
    assert "__p" not in scan.columns
    expect = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    assert scan.count() == expect.count() > 0
    got = {r["event_id"] for r in scan.select("event_id").collect()}
    want = {r["event_id"] for r in expect.select("event_id").collect()}
    assert got == want


def test_partition_evolution_seam_invisible(spark, tmp_path):
    """Spec v0 (unpartitioned history) + spec v1 (day-partitioned) read
    as one table: v1 prunes directories, v0 row-filters, results equal
    the unpartitioned filter; history files are untouched by evolution."""
    import glob
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.sources import load_table
    from spark_hudi_etl_pipeline_spark.sources.writers import (
        evolve_partition_spec,
        hidden_day,
        read_evolved_day_range,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "evo")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(f"{path}/spec0")
    v0_files = {
        (f, os.path.getmtime(f))
        for f in glob.glob(f"{path}/spec0/*.parquet")
    }
    evolve_partition_spec(
        spark, path, ev.filter(F.col("event_id") % 2 == 1),
        source_col="ts", transform=hidden_day,
    )
    assert v0_files == {
        (f, os.path.getmtime(f)) for f in glob.glob(f"{path}/spec0/*.parquet")
    }  # evolution rewrote nothing
    lo, hi = "2024-01-03 00:00:00", "2024-01-09 00:00:00"
    scan = read_evolved_day_range(spark, path, source_col="ts", lo=lo, hi=hi)
    expect = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    got = {r["event_id"] for r in scan.select("event_id").collect()}
    want = {r["event_id"] for r in expect.select("event_id").collect()}
    assert got == want and got
