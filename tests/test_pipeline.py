"""Pipeline lifecycle (reference R3/R4/R8): first-run full load,
second-run incremental, empty-batch short-circuit, FAILED logging with
error recovery, status report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.pipeline import (
    PipelineConfig,
    get_last_run_timestamp,
    get_pipeline_status,
    run_pipeline,
)
from spark_hudi_etl_pipeline_spark.pipeline.runlog import now_ms
from spark_hudi_etl_pipeline_spark.pipeline.runner import scheduled_run

SCHEMA = "record_id long, entity_id string, created_at long, payload string"


def make_source(spark, rows):
    def source(s):
        return s.createDataFrame(rows, SCHEMA)

    return source


def make_config(spark, tmp_path, rows, **overrides):
    cfg = dict(
        name="test_pipeline",
        source=make_source(spark, rows),
        watermark_col="created_at",
        target_path=str(tmp_path / "target"),
        log_path=str(tmp_path / "log"),
        record_keys=["record_id"],
        precombine_field="load_timestamp",
        not_null_col="created_at",
    )
    cfg.update(overrides)
    return PipelineConfig(**cfg)


def test_first_run_full_load_then_incremental(spark, tmp_path):
    t0 = now_ms()
    old_rows = [(1, "u1", t0 - 1000, "a"), (2, "u2", t0 - 500, "b")]
    cfg = make_config(spark, tmp_path, old_rows)

    r1 = run_pipeline(spark, cfg)
    assert r1.status == "SUCCESS"
    assert r1.records_processed == 2
    assert r1.watermark_used is None  # first run = full load
    target = spark.read.parquet(cfg.target_path)
    assert target.count() == 2
    # metadata stamped (reference :235-236)
    assert {"processing_date", "load_timestamp"} <= set(target.columns)

    # Second run: same 2 old rows + 1 future row; only the future row
    # (created_at > previous run watermark) flows through.
    future = now_ms() + 60_000
    cfg2 = make_config(
        spark, tmp_path, old_rows + [(3, "u3", future, "c")]
    )
    r2 = run_pipeline(spark, cfg2)
    assert r2.status == "SUCCESS"
    assert r2.watermark_used is not None
    assert r2.records_processed == 1
    assert spark.read.parquet(cfg.target_path).count() == 3


def test_empty_batch_short_circuit(spark, tmp_path):
    t0 = now_ms()
    rows = [(1, "u1", t0 - 1000, "a")]
    cfg = make_config(spark, tmp_path, rows)
    run_pipeline(spark, cfg)
    # Re-run with no new rows → SUCCESS(0), no target change, watermark advances.
    r2 = run_pipeline(spark, cfg)
    assert r2.status == "SUCCESS" and r2.records_processed == 0
    assert spark.read.parquet(cfg.target_path).count() == 1
    # Watermark advanced to run 2's timestamp (reference :288 semantics).
    wm = get_last_run_timestamp(spark, cfg.log_path, cfg.name)
    assert wm is not None and wm >= r2.watermark_used


def test_failure_logs_failed_and_reraises(spark, tmp_path):
    def exploding_transform(df):
        return df.select("no_such_column")

    cfg = make_config(
        spark, tmp_path, [(1, "u1", now_ms(), "a")], transform=exploding_transform
    )
    with pytest.raises(Exception):
        run_pipeline(spark, cfg)
    log = spark.read.parquet(cfg.log_path)
    failed = log.filter(F.col("status") == "FAILED").collect()
    assert len(failed) == 1
    assert failed[0]["error_message"] is not None
    # Error ⇒ next watermark read still works and returns None (no SUCCESS yet)
    assert get_last_run_timestamp(spark, cfg.log_path, cfg.name) is None


@pytest.mark.parametrize("failure", ["publish", "audit"])
def test_failed_commit_leaves_previous_run_visible(spark, tmp_path, monkeypatch, failure):
    """A run whose target commit fails after its files were moved in —
    the manifest publish raises, or a WAP audit rejects the candidate —
    leaves the target and the watermark as the previous run left them,
    and no moved-in file behind."""
    import glob
    import os

    from spark_hudi_etl_pipeline_spark.operators import merge
    from spark_hudi_etl_pipeline_spark.operators.wap import AuditFailure, wap_upsert
    from spark_hudi_etl_pipeline_spark.pipeline import runner

    t0 = now_ms()
    old_rows = [(1, "u1", t0 - 1000, "a")]
    cfg = make_config(spark, tmp_path, old_rows)
    run_pipeline(spark, cfg)

    def state():
        target = {tuple(r) for r in merge.read_indexed_table(spark, cfg.target_path).collect()}
        files = sorted(glob.glob(os.path.join(cfg.target_path, "*.parquet")))
        return target, files, get_last_run_timestamp(spark, cfg.log_path, cfg.name)

    before = state()
    assert before[2] is not None
    if failure == "publish":
        real = merge._manifest_publish

        def publish(path, files, version, extra=None):
            if path == cfg.target_path:
                raise OSError("injected crash before the manifest publish")
            real(path, files, version, extra)

        monkeypatch.setattr(merge, "_manifest_publish", publish)
        expected = OSError
    else:
        def audited(spark_, batch, path, keys, precombine):
            return wap_upsert(spark_, batch, path, keys, precombine, audit=lambda c: c)

        monkeypatch.setattr(runner, "upsert_parquet", audited)
        expected = AuditFailure

    cfg2 = make_config(spark, tmp_path, old_rows + [(2, "u2", now_ms() + 60_000, "b")])
    with pytest.raises(expected):
        run_pipeline(spark, cfg2)
    assert state() == before
    statuses = [r["status"] for r in get_pipeline_status(spark, cfg.log_path).collect()]
    assert statuses == ["FAILED", "SUCCESS"]


def test_watermark_missing_log_returns_none(spark, tmp_path):
    assert get_last_run_timestamp(spark, str(tmp_path / "nope"), "x") is None


def test_status_report(spark, tmp_path):
    cfg = make_config(spark, tmp_path, [(1, "u1", now_ms() - 10, "a")])
    run_pipeline(spark, cfg)
    report = get_pipeline_status(spark, cfg.log_path, pipeline_name=cfg.name, days=1)
    rows = report.collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "SUCCESS"
    assert rows[0]["records_processed"] == 1
    assert rows[0]["run_time"] is not None


def test_scheduled_run_returns_bool(spark, tmp_path):
    cfg = make_config(spark, tmp_path, [(1, "u1", now_ms(), "a")])
    assert scheduled_run(spark, cfg) is True

    def bad(df):
        raise RuntimeError("boom")

    cfg_bad = make_config(spark, tmp_path, [(2, "u2", now_ms() + 120_000, "b")], transform=bad)
    assert scheduled_run(spark, cfg_bad) is False


def test_rerun_convergence_upsert(spark, tmp_path):
    """Running the same pipeline twice over overlapping data converges
    (keyed upsert, not append): no duplicate record_ids."""
    t_future = now_ms() + 3_600_000  # rows stay "new" for both runs
    rows = [(1, "u1", t_future, "a"), (2, "u2", t_future + 1, "b")]
    cfg = make_config(spark, tmp_path, rows)
    run_pipeline(spark, cfg)
    run_pipeline(spark, cfg)  # same rows extracted again (still > watermark? no—)
    target = spark.read.parquet(cfg.target_path)
    ids = [r["record_id"] for r in target.collect()]
    assert sorted(ids) == sorted(set(ids)), "upsert must not duplicate keys"


def _jobs_in(spark, fn):
    """(fn's result, Spark jobs fn ran), counted from the status tracker
    under a job group of its own."""
    import uuid

    from spark_hudi_etl_pipeline_spark.pipeline.costlog import job_footprint

    sc = spark.sparkContext
    group = f"jobs:{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, job_footprint(sc, group)[0]


#: Spark jobs of a one-row incremental run_pipeline batch: one observed
#: checkpoint of the batch, five for the target upsert (its adaptive
#: query stages and its staged write) and the audit row's staged write.
#: The watermark and both tables' schemas come from manifest records on
#: the driver, and the audit row reads nothing.
INCREMENTAL_RUN_MAX_JOBS = 7


def test_incremental_run_job_budget(spark, tmp_path):
    t0 = now_ms()
    old_rows = [(1, "u1", t0 - 1000, "a"), (2, "u2", t0 - 500, "b")]
    run_pipeline(spark, make_config(spark, tmp_path, old_rows))
    cfg = make_config(spark, tmp_path, old_rows + [(3, "u3", now_ms() + 60_000, "c")])
    res, jobs = _jobs_in(spark, lambda: run_pipeline(spark, cfg))
    assert res.status == "SUCCESS" and res.records_processed == 1
    assert jobs <= INCREMENTAL_RUN_MAX_JOBS


def test_watermark_read_runs_no_job(spark, tmp_path):
    cfg = make_config(spark, tmp_path, [(1, "u1", now_ms() - 10, "a")])
    r = run_pipeline(spark, cfg)
    wm, jobs = _jobs_in(spark, lambda: get_last_run_timestamp(spark, cfg.log_path, cfg.name))
    assert jobs == 0
    rows = spark.read.parquet(cfg.log_path).collect()
    assert wm == rows[0]["current_run_timestamp"] and r.status == "SUCCESS"


def test_log_rows_in_one_millisecond_both_stay(spark, tmp_path, monkeypatch):
    """The log key (pipeline_name, created_at) stays unique without a
    read of the log: a second row in the same millisecond takes the
    next one."""
    from spark_hudi_etl_pipeline_spark.operators.merge import read_indexed_table
    from spark_hudi_etl_pipeline_spark.pipeline import runlog

    monkeypatch.setattr(runlog, "now_ms", lambda: 1_700_000_000_000)
    path = str(tmp_path / "log")
    for ts in (10, 20):
        runlog.write_log_entry(
            spark, path, pipeline_name="p", status="SUCCESS", current_run_timestamp=ts
        )
    rows = read_indexed_table(spark, path).orderBy("created_at").collect()
    assert [r["current_run_timestamp"] for r in rows] == [10, 20]
    assert rows[0]["created_at"] < rows[1]["created_at"]


def test_failed_run_does_not_advance_watermark(spark, tmp_path):
    cfg = make_config(spark, tmp_path, [(1, "u1", now_ms() - 1000, "a")])
    run_pipeline(spark, cfg)
    before = get_last_run_timestamp(spark, cfg.log_path, cfg.name)

    def bad(df):
        raise RuntimeError("boom")

    cfg_bad = make_config(spark, tmp_path, [(2, "u2", now_ms() + 60_000, "b")], transform=bad)
    with pytest.raises(RuntimeError):
        run_pipeline(spark, cfg_bad)
    assert get_last_run_timestamp(spark, cfg.log_path, cfg.name) == before
    statuses = [r["status"] for r in get_pipeline_status(spark, cfg.log_path).collect()]
    assert statuses == ["FAILED", "SUCCESS"]


def test_log_compacts_at_its_file_bound(spark, tmp_path):
    """LOG_MAX_FILES + 1 appends: the last one rewrites the log into one
    file, keeping every row, every pipeline's watermark and the last
    created_at (the next row still takes a fresh key). A read of the log
    at its bound runs no more jobs than one of a single file: the bound
    stays within the paths Spark lists without a parallel-listing job."""
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
    )
    from spark_hudi_etl_pipeline_spark.pipeline import runlog

    path = str(tmp_path / "log")
    n = runlog.LOG_MAX_FILES + 1
    for i in range(n):
        if i == n - 1:
            _, jobs_at_bound = _jobs_in(
                spark, lambda: read_indexed_table(spark, path).collect()
            )
        runlog.write_log_entry(
            spark, path, pipeline_name=f"p{i % 2}",
            status="FAILED" if i == n - 2 else "SUCCESS", current_run_timestamp=i,
        )
    assert len(table_live_files(path)[1]) < runlog.LOG_MAX_FILES
    rows, jobs_compacted = _jobs_in(spark, lambda: read_indexed_table(spark, path).collect())
    assert jobs_at_bound == jobs_compacted
    assert sorted(r["current_run_timestamp"] for r in rows) == list(range(n))
    assert len({(r["pipeline_name"], r["created_at"]) for r in rows}) == n
    # n - 1 (even: p0) is p0's last SUCCESS; n - 2, p1's last row, FAILED.
    assert get_last_run_timestamp(spark, path, "p0") == n - 1
    assert get_last_run_timestamp(spark, path, "p1") == n - 4
    last = max(r["created_at"] for r in rows if r["pipeline_name"] == "p0")
    runlog.write_log_entry(
        spark, path, pipeline_name="p0", status="SUCCESS", current_run_timestamp=n
    )
    assert max(r["created_at"] for r in read_indexed_table(spark, path).collect()) > last


def test_bootstrap_idempotent(spark):
    """R2: CREATE DATABASE/TABLE IF NOT EXISTS — re-running is a no-op;
    the upsert contract lands in table properties."""
    from spark_hudi_etl_pipeline_spark import api

    try:
        api.create_database_and_table(spark)
        api.create_database_and_table(spark)
        cols = [f.name for f in spark.table("pipeline_layer.pipeline_log").schema.fields]
        assert cols == [
            "pipeline_name", "last_run_timestamp", "current_run_timestamp",
            "status", "records_processed", "processing_time_seconds",
            "error_message", "created_at",
        ]
        from spark_hudi_etl_pipeline_spark.pipeline.runlog import LOG_SCHEMA

        types = [f.dataType for f in spark.table("pipeline_layer.pipeline_log").schema]
        assert types == [f.dataType for f in LOG_SCHEMA]
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                "SHOW TBLPROPERTIES pipeline_layer.pipeline_log"
            ).collect()
        }
        assert props.get("primaryKey") == "pipeline_name,created_at"
        assert props.get("preCombineField") == "created_at"
    finally:
        spark.sql("DROP TABLE IF EXISTS pipeline_layer.pipeline_log")
        spark.sql("DROP DATABASE IF EXISTS pipeline_layer")


def test_bootstrap_rejects_bad_identifier(spark):
    from spark_hudi_etl_pipeline_spark.pipeline import bootstrap
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bootstrap.quoted("x`; DROP TABLE y")


def test_reference_api_surface(spark, tmp_path):
    """The reference's seven entry points exist with compatible shapes
    and drive a full run end-to-end (api.py — the drop-in surface)."""
    from spark_hudi_etl_pipeline_spark import api

    # R11 sample fixture: schema verbatim from the reference.
    sample = api.create_sample_data_for_testing(spark)
    assert [f.name for f in sample.schema.fields] == [
        "record_id", "entity_id", "event_timestamp", "event_type",
        "data_field_1", "data_field_2", "numeric_field_1", "numeric_field_2",
    ]
    assert sample.count() == 3

    log_path = str(tmp_path / "log")
    target = str(tmp_path / "target")
    cfg = api.PipelineConfig(
        name="api_smoke",
        source=lambda s: api.create_sample_data_for_testing(s),
        watermark_col="event_timestamp",
        target_path=target,
        log_path=log_path,
        record_keys=["record_id"],
        precombine_field="load_timestamp",
        not_null_col="event_timestamp",
    )
    # R8 with caller-owned session; R10 wrapper returns bool.
    result = api.run_pipeline(cfg, spark)
    assert result.status == "SUCCESS" and result.records_processed == 3
    assert api.daily_pipeline_run(cfg, spark) is True

    # R3 watermark now exists; R9 status report shows both runs.
    assert api.get_last_run_timestamp(spark, log_path, "api_smoke") is not None
    report = api.get_pipeline_status(spark, log_path, pipeline_name="api_smoke",
                                     show=False)
    assert report.count() >= 2
    assert spark.read.parquet(target).count() == 3  # upsert converged


def test_run_with_retries_recovers_and_logs_each_attempt(spark, tmp_path):
    """Transient failure: first two attempts explode, third succeeds —
    the wrapper returns the success result, the runlog shows 2 FAILED
    rows + 1 SUCCESS, and the table holds the batch exactly once."""
    from spark_hudi_etl_pipeline_spark.pipeline.runner import run_with_retries

    calls = {"n": 0}

    def flaky_transform(df):
        calls["n"] += 1
        if calls["n"] <= 2:
            return df.select("no_such_column")
        return df

    cfg = make_config(
        spark, tmp_path, [(1, "u1", now_ms(), "a"), (2, "u2", now_ms(), "b")],
        transform=flaky_transform,
    )
    result = run_with_retries(spark, cfg, max_attempts=3)
    assert result.status == "SUCCESS" and result.records_processed == 2
    log = spark.read.parquet(cfg.log_path)
    statuses = sorted(r["status"] for r in log.collect())
    assert statuses == ["FAILED", "FAILED", "SUCCESS"]
    assert spark.read.parquet(cfg.target_path).count() == 2


def test_run_with_retries_exhausts_and_raises(spark, tmp_path):
    from spark_hudi_etl_pipeline_spark.pipeline.runner import run_with_retries

    def always_fails(df):
        return df.select("no_such_column")

    cfg = make_config(
        spark, tmp_path, [(1, "u1", now_ms(), "a")], transform=always_fails
    )
    with pytest.raises(Exception):
        run_with_retries(spark, cfg, max_attempts=2)
    log = spark.read.parquet(cfg.log_path)
    assert log.filter(F.col("status") == "FAILED").count() == 2
    with pytest.raises(ValueError):
        run_with_retries(spark, cfg, max_attempts=0)
