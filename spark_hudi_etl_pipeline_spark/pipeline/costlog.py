"""Per-query cost attribution into the audit surface.

The reference's audit table gestures at per-run observability —
"Performance Metrics: processing time trends", "Resource Metrics:
execution time and resource utilization" (reference README.md:148-160) —
but records only one wall-clock number per pipeline run. This module
attributes cost PER QUERY, Spark-first:

- **rows out** via :class:`pyspark.sql.Observation` — a plan-embedded
  aggregate collected as a side effect of the query's own action. No
  second job, no ``count()`` re-execution: at 100 TB re-counting a
  result to log it would double the query's cost.
- **jobs / tasks** from the :class:`SparkContext` status tracker,
  scoped by a per-run job group — the multi-core execution footprint
  the wall clock alone can't show (a 2-task query and a 2 000-task
  query can share a wall on an idle cluster and behave very
  differently on a contended one).
- **plan shape** (shuffle/broadcast exchanges, join strategies, pushed
  filters, codegen spans) parsed from the physical plan by
  :func:`summarize` — the one extraction ``tools/plan_audit.py`` also
  uses for PLANS.md and the plan golden, recorded per run so a plan
  regression (a new Exchange, a lost PushedFilters) shows up in the
  cost log even when the wall is noisy.

One row per profiled run is appended to a parquet cost table through
the same append commit as the reference-schema audit log
(``runlog.append_entry``), key ``(query_name, created_at)``.

Scale: everything recorded here is planning-scale (a handful of scalars
per run); the only corpus-scale work is the profiled query itself, which
runs exactly once.
"""

from __future__ import annotations

import contextlib
import io
import re
import time
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.merge import read_indexed_table
from .runlog import append_entry, now_ms

COST_SCHEMA = StructType(
    [
        StructField("query_name", StringType(), nullable=False),
        StructField("rows_out", LongType(), nullable=True),
        StructField("wall_sec", DoubleType(), nullable=False),
        StructField("n_jobs", IntegerType(), nullable=True),
        StructField("n_tasks", IntegerType(), nullable=True),
        StructField("shuffle_exchanges", IntegerType(), nullable=False),
        StructField("broadcast_exchanges", IntegerType(), nullable=False),
        StructField("broadcast_hash_joins", IntegerType(), nullable=False),
        StructField("sort_merge_joins", IntegerType(), nullable=False),
        StructField("pushed_filters", IntegerType(), nullable=False),
        StructField("codegen_spans", IntegerType(), nullable=False),
        StructField("created_at", LongType(), nullable=False),
    ]
)


def plan_text(df: DataFrame) -> tuple[str, str]:
    """(simple, formatted): simple carries inline Exchange arguments;
    formatted carries untruncated PushedFilters/ReadSchema."""
    buf_s, buf_f = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(buf_s):
        df.explain()
    with contextlib.redirect_stdout(buf_f):
        df.explain("formatted")
    return buf_s.getvalue(), buf_f.getvalue()


def summarize(simple: str, formatted: str) -> dict[str, object]:
    """Scale-critical physical-plan counters from :func:`plan_text`:
    join strategies, exchanges, pushed filters, per-scan projected
    column widths, top-k and Arrow stages. The one plan-shape
    extraction behind PLANS.md, the plan golden and the cost table."""
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    pushed_n = sum(len([p for p in grp.split(",") if p.strip()]) for grp in pushed)
    read_cols = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    scan_widths = [len([c for c in grp.split(",") if c.strip()]) for grp in read_cols]
    return {
        "broadcast_hash_join": simple.count("BroadcastHashJoin"),
        "sort_merge_join": simple.count("SortMergeJoin"),
        "shuffled_hash_join": simple.count("ShuffledHashJoin"),
        "bnl_join": simple.count("BroadcastNestedLoopJoin"),
        "shuffle_exchange": len(
            re.findall(r"Exchange (?:hash|range)partitioning", simple)
        ),
        "broadcast_exchange": simple.count("BroadcastExchange"),
        "pushed_filters": pushed_n,
        "scan_col_widths": scan_widths,
        "take_ordered": simple.count("TakeOrderedAndProject"),
        "arrow_eval": simple.count("ArrowEvalPython") + simple.count("MapInPandas"),
    }


def plan_shape(df: DataFrame) -> dict[str, int]:
    """The cost table's plan counters: a subset of :func:`summarize`
    plus the number of whole-stage codegen spans."""
    s = summarize(*plan_text(df))
    # Under AQE no pre-execution plan text carries codegen spans (the
    # AdaptiveSparkPlan wrapper hides its subtrees until runtime), so
    # the count is taken from the NON-adaptive physical plan — same
    # operators, same codegen fusion boundaries, available at plan
    # time. AQE is restored immediately; the toggle affects only this
    # explain's planning.
    buf_c = io.StringIO()
    sess = df.sparkSession
    aqe = sess.conf.get("spark.sql.adaptive.enabled")
    try:
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        # fresh plan node: the original df's QueryExecution is memoized
        # from the explains above, so it would ignore the AQE toggle.
        with contextlib.redirect_stdout(buf_c):
            df.select("*").explain("codegen")
    finally:
        sess.conf.set("spark.sql.adaptive.enabled", aqe)
    found = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf_c.getvalue())
    return {
        "shuffle_exchanges": s["shuffle_exchange"],
        "broadcast_exchanges": s["broadcast_exchange"],
        "broadcast_hash_joins": s["broadcast_hash_join"],
        "sort_merge_joins": s["sort_merge_join"],
        "pushed_filters": s["pushed_filters"],
        "codegen_spans": int(found.group(1)) if found else 0,
    }


def job_footprint(sc: SparkContext, group: str) -> tuple[int, int]:
    """(jobs, tasks) the status tracker recorded for job group ``group``."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group) or []
    n_tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                n_tasks += int(sinfo.numTasks)
    return len(job_ids), n_tasks


def profile_run(
    spark: SparkSession, df: DataFrame, query_name: str
) -> dict[str, object]:
    """Execute ``df`` end-to-end through the noop sink and return its
    cost-attribution row: observed rows out, wall, job/task counts for
    the run's job group, and the plan-shape counters."""
    obs = Observation(f"cost_{query_name}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
    shape = plan_shape(df)
    sc = spark.sparkContext
    group = f"cost:{query_name}:{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"cost attribution: {query_name}")
    t0 = time.perf_counter()
    try:
        observed.write.mode("overwrite").format("noop").save()
    finally:
        sc.setJobGroup(None, None)
    wall = time.perf_counter() - t0
    n_jobs, n_tasks = job_footprint(sc, group)
    return {
        "query_name": query_name,
        "rows_out": int(obs.get["rows_out"]),
        "wall_sec": round(wall, 3),
        "n_jobs": n_jobs,
        "n_tasks": n_tasks,
        **shape,
        "created_at": now_ms(),
    }


def write_cost_entry(
    spark: SparkSession, cost_path: str, entry: dict[str, object]
) -> None:
    """Append one attribution row, keyed ``(query_name, created_at)``,
    through the audit log's append commit (``runlog.append_entry``): one
    staged write and one manifest publish, no read of the table, and a
    ``created_at`` one past the query's previous row when ``entry``'s
    would repeat it — a crash leaves :func:`cost_report` on the previous
    version."""
    append_entry(spark, cost_path, COST_SCHEMA, entry, "query_name")


def cost_report(spark: SparkSession, cost_path: str) -> DataFrame:
    """Per-query rollup over the cost table: run count, wall stats, and
    the LATEST run's plan-shape counters (argmax by created_at — a plan
    regression shows as a counter change between report snapshots)."""
    log = read_indexed_table(spark, cost_path)
    w_latest = F.max(F.struct("created_at", "shuffle_exchanges")).alias("_l")
    return (
        log.groupBy("query_name")
        .agg(
            F.count(F.lit(1)).alias("runs"),
            F.min("wall_sec").alias("min_wall_sec"),
            F.avg("wall_sec").alias("avg_wall_sec"),
            F.max("rows_out").alias("rows_out"),
            w_latest,
        )
        .select(
            "query_name",
            "runs",
            "min_wall_sec",
            "avg_wall_sec",
            "rows_out",
            F.col("_l.shuffle_exchanges").alias("latest_shuffle_exchanges"),
        )
        .orderBy("query_name")
    )
