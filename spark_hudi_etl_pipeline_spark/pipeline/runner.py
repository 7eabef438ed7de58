"""Incremental pipeline runner (reference R8 run_pipeline, :262-335, and
R10 daily_pipeline_run, :371-379).

Reproduces the reference lifecycle exactly — watermark read → extract
(full on first run / error, incremental after) → empty-batch
short-circuit → transform hook (metadata stamping + user business logic)
→ keyed upsert write → audit log row; FAILED row + re-raise on error —
with the reference's defects fixed (SURVEY.md §3):

- the extract is materialized ONCE — one eager local checkpoint whose
  Observation counts the rows, then the write reads the checkpoint —
  instead of the reference's double computation (:283 count + :297
  write re-scan);
- the error path cannot raise UnboundLocalError when failure precedes
  the watermark read (:318-330 latent bug): all state is initialized
  up front;
- predicates are bound Columns, not interpolated SQL strings.

The target is written by ``merge.upsert_parquet``, a copy-on-write
rewrite committed by one manifest publish (the reference's Hudi COW
commit, :179-194), and the audit log by an append commit of the same
protocol whose manifest record carries the watermark: a crash mid-run
leaves both on their previous version, so the watermark never advances
past data that did not land. Read them with ``merge.read_indexed_table``.

Scale: the watermark predicate pushes into the source scan (incremental
runs read only new files); the upsert merge broadcasts the batch against
the keyed table (operators/merge.py) — nothing in the driver loop holds
more than the watermark scalar.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars
from ..operators.merge import upsert_parquet
from . import runlog


@dataclass
class PipelineConfig:
    """One incremental keyed-upsert pipeline (the reference's config
    block :14-21 re-expressed)."""

    name: str
    #: (spark) -> source DataFrame (the extract base; reference :207-219).
    source: Callable[[SparkSession], DataFrame]
    #: epoch-ms or timestamp column the watermark predicate filters on
    #: (reference ``created_at``, :223).
    watermark_col: str
    target_path: str
    log_path: str
    record_keys: list[str]
    precombine_field: str = "load_timestamp"
    #: non-null guard column (reference :218); None disables.
    not_null_col: str | None = None
    #: business-logic hook (reference process_data, :233-236); runs after
    #: the processing_date / load_timestamp stamps (reference :235-236).
    transform: Callable[[DataFrame], DataFrame] | None = None
    #: opt-in per-run cost attribution (pipeline/costlog.py): when set,
    #: the run's observed rows, wall, job/task footprint, and plan-shape
    #: counters are upserted here keyed (pipeline name, run timestamp).
    #: No extra execution — every number rides the run's own jobs.
    cost_log_path: str | None = None


@dataclass
class PipelineResult:
    status: str
    records_processed: int
    watermark_used: int | None
    duration_seconds: float


def extract_incremental(
    config: PipelineConfig, spark: SparkSession, watermark_ms: int | None
) -> DataFrame:
    """Extract with optional watermark predicate (reference :201-231):
    full load when ``watermark_ms`` is None, else only rows strictly
    newer than the watermark. The predicate is a bound Column that
    Catalyst pushes into the scan. The reference's sort of the extract
    (:226) is not reproduced: a global sort before a keyed upsert is
    wasted work at scale (SURVEY.md §7 risk register)."""
    df = config.source(spark)
    if config.not_null_col:
        df = df.filter(F.col(config.not_null_col).isNotNull())
    if watermark_ms is not None:
        col = F.col(config.watermark_col)
        dtype = df.schema[config.watermark_col].dataType.simpleString()
        boundary = (
            F.timestamp_millis(F.lit(watermark_ms))
            if dtype.startswith("timestamp")
            else F.lit(watermark_ms)
        )
        df = df.filter(col > boundary)
    return df


def stamp_metadata(df: DataFrame) -> DataFrame:
    """Reference process_data metadata stamping (:235-236)."""
    return df.withColumn("processing_date", scalars.processing_date()).withColumn(
        "load_timestamp", scalars.load_timestamp()
    )


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> PipelineResult:
    """Full run lifecycle; logs SUCCESS/FAILED and re-raises on error."""
    start = time.time()
    run_ts = runlog.now_ms()
    watermark: int | None = None  # initialized BEFORE any fallible step
    records = 0
    cost_group: str | None = None
    if config.cost_log_path is not None:
        # Scope the WHOLE run under one job group so the cost row's
        # job/task footprint covers extract + count + upsert — measured
        # off the run's own jobs, never a re-execution.
        cost_group = f"cost:{config.name}:{run_ts}"
        spark.sparkContext.setJobGroup(cost_group, f"pipeline run {config.name}")
    try:
        watermark = runlog.get_last_run_timestamp(spark, config.log_path, config.name)
        batch = stamp_metadata(extract_incremental(config, spark, watermark))
        if config.transform is not None:
            batch = config.transform(batch)
        shape = None
        if config.cost_log_path is not None:
            from .costlog import plan_shape

            shape = plan_shape(batch)  # pre-checkpoint: the real extract plan
        # Single materialization: one job checkpoints the batch and its
        # Observation counts the rows; the merge reads the checkpoint
        # (fixes the reference's double scan). A cache() + count() would
        # take three jobs: the cache build and count's two stages.
        # Trade-off, the one the merge helpers' checkpoints accept too:
        # nothing unpersists the checkpoint, so its blocks stay on the
        # executors until the ContextCleaner collects the RDD after a
        # driver GC, and a local checkpoint has no lineage to recompute
        # from, so losing an executor during the upsert fails the run.
        # That failure logs FAILED with the watermark unmoved, so a
        # retried run re-extracts the batch against the idempotent
        # keyed upsert.
        obs = Observation()
        batch = batch.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        records = int(obs.get["n"])
        if records == 0:
            # Empty-batch short-circuit (reference :285-293): log
            # SUCCESS(0) and keep the previous watermark semantics by
            # still advancing current_run_timestamp (matches :288).
            runlog.write_log_entry(
                spark,
                config.log_path,
                pipeline_name=config.name,
                status=runlog.STATUS_SUCCESS,
                current_run_timestamp=run_ts,
                last_run_timestamp=watermark,
                records_processed=0,
                processing_time_seconds=time.time() - start,
            )
            return PipelineResult(runlog.STATUS_SUCCESS, 0, watermark, time.time() - start)
        upsert_parquet(
            spark,
            batch,
            config.target_path,
            keys=config.record_keys,
            precombine=config.precombine_field,
        )
        duration = time.time() - start
        runlog.write_log_entry(
            spark,
            config.log_path,
            pipeline_name=config.name,
            status=runlog.STATUS_SUCCESS,
            current_run_timestamp=run_ts,
            last_run_timestamp=watermark,
            records_processed=records,
            processing_time_seconds=duration,
        )
        if config.cost_log_path is not None and shape is not None:
            from .costlog import job_footprint, write_cost_entry

            n_jobs, n_tasks = job_footprint(spark.sparkContext, cost_group)
            write_cost_entry(
                spark,
                config.cost_log_path,
                {
                    "query_name": config.name,
                    "rows_out": records,
                    "wall_sec": round(duration, 3),
                    "n_jobs": n_jobs,
                    "n_tasks": n_tasks,
                    **shape,
                    "created_at": run_ts,
                },
            )
        return PipelineResult(runlog.STATUS_SUCCESS, records, watermark, duration)
    except Exception as exc:
        # FAILED row + re-raise (reference :318-330) — watermark is
        # always bound here, unlike the reference's UnboundLocalError.
        try:
            runlog.write_log_entry(
                spark,
                config.log_path,
                pipeline_name=config.name,
                status=runlog.STATUS_FAILED,
                current_run_timestamp=run_ts,
                last_run_timestamp=watermark,
                records_processed=records,
                processing_time_seconds=time.time() - start,
                error_message=str(exc)[:2000],
            )
        except Exception:
            pass  # logging must never mask the original failure
        raise
    finally:
        if cost_group is not None:
            spark.sparkContext.setJobGroup(None, None)
