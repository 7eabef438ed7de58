"""Per-query cost attribution (pipeline/costlog.py): the Observation
rows-out leg, job-group-scoped task accounting, plan-shape counters, and
the keyed cost table + rollup report."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.pipeline import costlog
from tests.conftest import SF_SMALL


def _fact(spark, n=1000):
    return spark.range(n).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("v")
    )


def test_profile_run_observes_exact_rows_without_second_job(spark):
    df = _fact(spark).groupBy("k").agg(F.sum("v").alias("sv"))
    entry = costlog.profile_run(spark, df, "agg7")
    assert entry["rows_out"] == 7  # Observation, not a re-count
    assert entry["n_jobs"] >= 1
    assert entry["n_tasks"] >= 1
    assert entry["wall_sec"] > 0
    assert entry["shuffle_exchanges"] >= 1  # the groupBy shuffle


def test_profile_run_job_group_isolates_runs(spark):
    """Back-to-back runs must not leak each other's jobs into their
    task counts (each profile uses a fresh uuid-suffixed job group)."""
    df = _fact(spark).groupBy("k").count()
    a = costlog.profile_run(spark, df, "runA")
    b = costlog.profile_run(spark, df, "runB")
    # same plan → same footprint; a leak would double b's counts
    assert b["n_jobs"] == a["n_jobs"]
    assert b["n_tasks"] == a["n_tasks"]


def test_plan_shape_counts_joins_and_pushdown(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") < 10)
    o = load_table(spark, SF_SMALL, "orders")
    j = li.join(F.broadcast(o.select("o_orderkey")), li.l_orderkey == o.o_orderkey)
    shape = costlog.plan_shape(j.select("l_orderkey"))
    assert shape["broadcast_hash_joins"] >= 1
    assert shape["broadcast_exchanges"] >= 1
    assert shape["pushed_filters"] >= 1  # l_quantity < 10 reaches the scan
    assert shape["codegen_spans"] >= 1


def test_cost_table_upsert_and_report(spark, tmp_path):
    """Two profiled runs of one query land as two committed rows of the
    cost table, each with its own wall, row count and plan counters."""
    from spark_hudi_etl_pipeline_spark.operators.merge import read_indexed_table

    path = str(tmp_path / "cost")
    df = _fact(spark).groupBy("k").count()
    e1 = costlog.profile_run(spark, df, "agg7")
    e2 = costlog.profile_run(spark, df, "agg7")
    e2["created_at"] = e1["created_at"] + 1  # distinct key halves
    costlog.write_cost_entry(spark, path, e1)
    costlog.write_cost_entry(spark, path, e2)
    rows = read_indexed_table(spark, path).orderBy("created_at").collect()
    assert [r["query_name"] for r in rows] == ["agg7", "agg7"]
    assert [r["rows_out"] for r in rows] == [7, 7]
    assert [r["created_at"] for r in rows] == [e1["created_at"], e2["created_at"]]
    assert rows[1]["shuffle_exchanges"] == e2["shuffle_exchanges"]
    assert all(r["wall_sec"] >= 0 for r in rows)


def test_run_pipeline_cost_attribution_opt_in(spark, tmp_path):
    """cost_log_path on PipelineConfig records one attribution row per
    data-moving run — rows_out == records_processed, footprint measured
    off the run's own jobs (no re-execution)."""
    from tests.test_pipeline import make_config
    from spark_hudi_etl_pipeline_spark.pipeline.runner import run_pipeline
    from spark_hudi_etl_pipeline_spark.pipeline.runlog import now_ms

    t0 = now_ms()
    rows = [(1, "u1", t0 - 1000, "a"), (2, "u2", t0 - 500, "b")]
    cost_path = str(tmp_path / "cost")
    cfg = make_config(spark, tmp_path, rows, cost_log_path=cost_path)
    r = run_pipeline(spark, cfg)
    assert r.status == "SUCCESS" and r.records_processed == 2
    log = spark.read.parquet(cost_path).collect()
    assert len(log) == 1
    row = log[0]
    assert row["query_name"] == "test_pipeline"
    assert row["rows_out"] == 2
    assert row["n_jobs"] >= 1 and row["n_tasks"] >= 1
    assert row["wall_sec"] > 0


def test_python_resampled_counts_python_under_a_range_exchange():
    """A range exchange samples by re-running its child up to the next
    exchange: a Python node there counts, one behind a nested exchange
    (materialized once) or below a fan-out's exchange does not."""
    resorted = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [doc_id#0L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(doc_id#0L ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS, [plan_id=20]
      +- Project [doc_id#0L, pythonUDF0#8 AS quality#6]
         +- ArrowEvalPython [score(text#1)#5], [pythonUDF0#8], 200
            +- FileScan parquet [doc_id#0L,text#1]
"""
    fanned = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [doc_id#0L ASC NULLS FIRST], false, 0
   +- Project [doc_id#0L, pythonUDF0#8 AS quality#6]
      +- ArrowEvalPython [score(text#1)#5], [pythonUDF0#8], 200
         +- Exchange rangepartitioning(doc_id#0L ASC NULLS FIRST, 4), REPARTITION_BY_NUM, [plan_id=15]
            +- FileScan parquet [doc_id#0L,text#1]
"""
    behind_shuffle = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [k#1L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(k#1L ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS, [plan_id=9]
      +- BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, false
         :- HashAggregate(keys=[k#1L], functions=[])
         :  +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=5]
         :     +- MapInPandas decode(k#1L)#3, [k#1L], false
         :        +- FileScan parquet [k#1L]
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=7]
            +- FlatMapGroupsInPandas [k#2L], f(k#2L)#4, [k#2L]
               +- FileScan parquet [k#2L]
"""
    # The grouped Python stage's output is already hash-partitioned by
    # the join key, so it runs in the sampled stage, beside the shuffle.
    beside = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [k#1L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(k#1L ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS, [plan_id=9]
      +- SortMergeJoin [k#1L], [k#2L], Inner
         :- Sort [k#1L ASC NULLS FIRST], false, 0
         :  +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=5]
         :     +- MapInPandas decode(k#1L)#3, [k#1L], false
         :        +- FileScan parquet [k#1L]
         +- Sort [k#2L ASC NULLS FIRST], false, 0
            +- FlatMapGroupsInPandas [k#2L], f(k#2L)#4, [k#2L]
               +- Sort [k#2L ASC NULLS FIRST], false, 0
                  +- Exchange hashpartitioning(k#2L, 32), ENSURE_REQUIREMENTS, [plan_id=7]
                     +- FileScan parquet [k#2L]
"""
    assert costlog.summarize(resorted, "")["python_resampled"] == 1
    assert costlog.summarize(fanned, "")["python_resampled"] == 0
    assert costlog.summarize(behind_shuffle, "")["python_resampled"] == 0
    assert costlog.summarize(beside, "")["python_resampled"] == 1
