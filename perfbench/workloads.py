"""The benchmark workloads.

Each workload drives the engine only through its public functions
(``pipeline.runner.run_pipeline``, ``pipeline.runlog``, the ``plans``
registry) and exposes the same shape to ``run.py``:

- ``setup(spark, tracer)`` generates the inputs and warms up; returns
  its timed parts and the warm-up operations' records;
- ``op(spark, tracer)`` runs one operation and returns its record
  (``wall_s``, ``ok`` and workload-specific parts);
- ``final_check(spark, ops)`` runs the untimed end-of-run checks and may
  mark operations as failed;
- ``layer_metrics(...)`` turns the traced operations' spans into the
  per-layer numbers.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from statistics import median

import numpy as np

from . import check, gen

CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_scores",
    "text_repetition_filters",
)
WORKLOADS = ("etl_trickle", "curation_mix")
N_BUCKETS = 16
#: Default scale factor of the curation table (sf 0.1: 5,000 documents).
MIX_SCALE = 0.1


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EtlTrickle:
    """Small batches through ``run_pipeline`` into a growing keyed table:
    the reference's incremental watermark ETL regime."""

    default_scale = 0.1

    def __init__(self, run_dir: str, seed: int, scale: float):
        self.run_dir = run_dir
        self.seed = seed
        self.bootstrap_rows = max(int(500_000 * scale), 200)
        self.batch_rows = max(int(10_000 * scale), 20)
        self.src: gen.TrickleSource | None = None
        self.cfg = None
        self.bootstrap: dict = {}

    def _pipeline(self):
        from spark_hudi_etl_pipeline_spark.pipeline.runner import PipelineConfig

        base = os.path.join(self.run_dir, "etl")
        landing = os.path.join(base, "landing")
        src = gen.TrickleSource(self.seed, landing, self.batch_rows)
        cfg = PipelineConfig(
            name="perfbench_etl",
            source=lambda spark: spark.read.parquet(landing),
            watermark_col="created_at",
            target_path=os.path.join(base, "target"),
            log_path=os.path.join(base, "log"),
            record_keys=["event_id"],
            precombine_field="seq",
            not_null_col="ts",
        )
        return src, cfg

    def _read_buckets(self, spark) -> dict[int, tuple[int, int, int]]:
        """The grouped read of the target that checks each operation."""
        from pyspark.sql import functions as F

        cents = F.round(F.col("value") * 100).cast("long")
        rows = (
            spark.read.parquet(self.cfg.target_path)
            .groupBy((F.col("event_id") % N_BUCKETS).alias("b"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("c"),
                F.sum(F.col("event_id") * cents).alias("x"),
            )
            .collect()
        )
        return {int(r["b"]): (int(r["n"]), int(r["c"]), int(r["x"])) for r in rows}

    def expected_buckets(self) -> dict[int, tuple[int, int, int]]:
        return {
            b: v for b, v in self.src.expected_buckets(N_BUCKETS).items() if v[0] > 0
        }

    def _run_batch(self, spark, table, tracer=None, op_name: str = "op") -> dict:
        from spark_hudi_etl_pipeline_spark.pipeline import runlog, runner

        bytes_before = self.src.bytes_landed
        rows = self.src.land(table, runlog.now_ms())
        rec = {"rows": rows, "bytes_in": self.src.bytes_landed - bytes_before, "ok": False}
        t0 = time.perf_counter()
        try:
            with _span(tracer, op_name):
                with _span(tracer, "pipeline.run_pipeline"):
                    res = runner.run_pipeline(spark, self.cfg)
                t1 = time.perf_counter()
                with _span(tracer, "etl.read"):
                    got = self._read_buckets(spark)
            t2 = time.perf_counter()
        except Exception:  # one failed batch is counted, the run goes on
            _log_failure("etl batch")
            rec["wall_s"] = time.perf_counter() - t0
            return rec
        rec.update(
            wall_s=t2 - t0,
            batch_s=t1 - t0,
            read_s=t2 - t1,
            ok=(
                res.status == runlog.STATUS_SUCCESS
                and res.records_processed == rows
                and got == self.expected_buckets()
            ),
        )
        return rec

    def setup(self, spark, tracer=None) -> dict:
        t0 = time.perf_counter()
        self.src, self.cfg = self._pipeline()
        boot_table = self.src.make_bootstrap(self.bootstrap_rows)
        gen_s = time.perf_counter() - t0

        # Warm-up, untimed and checked like every operation: the
        # full-load first run (traced in a traced run, for the
        # bootstrap's merge numbers), then one incremental batch.
        t1 = time.perf_counter()
        if tracer is not None:
            self.wrap_layers(tracer)
        try:
            self.bootstrap = self._run_batch(spark, boot_table, tracer, op_name="bootstrap")
        finally:
            if tracer is not None:
                tracer.unwrap()
        warm = [self.bootstrap, self.op(spark)]
        return {"input_gen_s": gen_s, "warmup_s": time.perf_counter() - t1, "ops": warm}

    def op(self, spark, tracer=None) -> dict:
        return self._run_batch(spark, self.src.make_batch(), tracer)

    def final_check(self, spark, ops: list[dict]) -> None:
        """The audit log holds one SUCCESS row per run, in order, with
        ``records_processed`` equal to the rows landed, and the
        watermark never decreases."""
        from pyspark.sql import functions as F

        from spark_hudi_etl_pipeline_spark.pipeline import runlog

        log = (
            spark.read.parquet(self.cfg.log_path)
            .filter(F.col("pipeline_name") == self.cfg.name)
            .orderBy("created_at")
            .collect()
        )
        if len(log) != len(ops):
            for rec in ops:
                rec["ok"] = False
            return
        prev = None
        for rec, row in zip(ops, log):
            good = (
                row["status"] == runlog.STATUS_SUCCESS
                and row["records_processed"] == rec["rows"]
                and row["last_run_timestamp"] == prev
                and (prev is None or row["current_run_timestamp"] >= prev)
            )
            rec["ok"] = rec["ok"] and good
            prev = row["current_run_timestamp"]

    def stored_bytes_per_input_byte(self) -> float:
        return (_du(self.cfg.target_path) + _du(self.cfg.log_path)) / self.src.bytes_landed

    def layer_metrics(self, tracer, traced_ops: list[dict], untraced_ops: list[dict]) -> dict:
        by_name = tracer.by_name()
        boot = {s["id"] for b in by_name.get("bootstrap", []) for s in tracer.subtree(b["id"])}

        def batch_spans(name: str) -> list[dict]:
            return [s for s in by_name.get(name, []) if s["id"] not in boot]

        batch_runs = batch_spans("pipeline.run_pipeline")
        upserts = batch_spans("merge.upsert_parquet")
        boot_upserts = [s for s in by_name.get("merge.upsert_parquet", []) if s["id"] in boot]
        in_bytes = sum(r["bytes_in"] for r in traced_ops) or 1
        n = max(len(batch_runs), 1)
        foot = [tracer.spark_totals(s["id"]) for s in batch_runs]
        up = [tracer.spark_totals(s["id"]) for s in upserts]
        return {
            "pipeline.run_pipeline.self_s": _med([tracer.self_time(s) for s in batch_runs]),
            "pipeline.get_last_run_timestamp_s": _med_dur(batch_spans("pipeline.get_last_run_timestamp")),
            "pipeline.write_log_entry_s": _med_dur(batch_spans("pipeline.write_log_entry")),
            "pipeline.jobs_per_batch": sum(f.get("jobs", 0) for f in foot) / n,
            "pipeline.stages_per_batch": sum(f.get("stages", 0) for f in foot) / n,
            "pipeline.tasks_per_batch": sum(f.get("tasks", 0) for f in foot) / n,
            "merge.upsert_parquet_s": _med_dur(upserts),
            "merge.bootstrap_upsert_s": _med_dur(boot_upserts),
            "merge.bytes_written_per_input_byte": sum(u.get("bytes_written", 0) for u in up) / in_bytes,
            "merge.bytes_read_per_input_byte": sum(u.get("input_bytes", 0) for u in up) / in_bytes,
            "merge.files_written_per_batch": sum(u.get("files_written", 0) for u in up) / max(len(up), 1),
            "merge.target_files": float(
                sum(f.endswith(".parquet") for f in os.listdir(self.cfg.target_path))
            ),
            "etl.batch_p50_s": _med([r["batch_s"] for r in untraced_ops if "batch_s" in r]),
            "etl.batch_max_s": max([r["batch_s"] for r in untraced_ops if "batch_s" in r], default=0.0),
            "etl.read_p50_s": _med([r["read_s"] for r in untraced_ops if "read_s" in r]),
            "etl.bootstrap_s": self.bootstrap.get("batch_s", 0.0),
            "etl.stored_bytes_per_input_byte": self.stored_bytes_per_input_byte(),
        }

    def wrap_layers(self, tracer) -> None:
        from spark_hudi_etl_pipeline_spark.pipeline import runlog, runner

        tracer.wrap(runlog, "get_last_run_timestamp", "pipeline.get_last_run_timestamp")
        tracer.wrap(runlog, "write_log_entry", "pipeline.write_log_entry")
        tracer.wrap(runlog, "upsert_parquet", "merge.log_upsert")
        tracer.wrap(runner, "upsert_parquet", "merge.upsert_parquet")


class QueryMix:
    """One pass over a fixed set of registered queries per operation,
    in an order shuffled by the seed; each query's result is collected
    and compared with its DuckDB oracle."""

    def __init__(self, queries: tuple[str, ...], run_dir: str, seed: int, scale: float):
        self.queries = queries
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        #: query -> (columns, rows) of its ``ORACLES`` SQL on DuckDB
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected_results(self) -> dict[str, tuple[list[str], list[tuple]]]:
        """Each query's ``ORACLES`` SQL run on DuckDB over the inputs."""
        from spark_hudi_etl_pipeline_spark.plans import ORACLES

        docs = os.path.join(self.data_dir, "documents.parquet")
        con = check.duckdb_over({"documents": docs}, self.run_dir)
        out = {}
        try:
            for q in self.queries:
                rel = con.sql(ORACLES[q])
                out[q] = (rel.columns, rel.fetchall())
        finally:
            con.close()
        return out

    def setup(self, spark, tracer=None) -> dict:
        t0 = time.perf_counter()
        gen.write_documents(self.data_dir, self.seed, self.scale)
        gen_s = time.perf_counter() - t0
        self.expected = self.expected_results()
        # One untimed pass, the same code as a timed one: on a fresh JVM
        # the first pass takes ~2.5x a warm one. The second still takes
        # 1.1-1.2x the third, so a traced run, which compares the untraced
        # and traced passes that follow, runs one more untimed pass.
        warm = [self.op(spark) for _ in range(1 if tracer is None else 2)]
        return {"input_gen_s": gen_s, "warmup_s": warm[0]["wall_s"], "ops": warm}

    def op(self, spark, tracer=None) -> dict:
        from spark_hudi_etl_pipeline_spark.plans import QUERIES

        rec = {"ok": True, "build_s": {}, "exec_s": {}, "wall_s": 0.0}
        with _span(tracer, "op"):
            for q in self.rng.permutation(self.queries):
                try:
                    t1 = time.perf_counter()
                    with _span(tracer, f"plans.{q}.build"):
                        df = QUERIES[q](spark, self.data_dir)
                    t2 = time.perf_counter()
                    with _span(tracer, f"plans.{q}.exec"):
                        rows = df.collect()
                    t3 = time.perf_counter()
                except Exception:  # counted as a failed pass
                    _log_failure(f"query {q}")
                    rec["ok"] = False
                    continue
                rec["build_s"][q] = t2 - t1
                rec["exec_s"][q] = t3 - t2
                rec["wall_s"] += t3 - t1
                # The comparison is not timed.
                cols, want = self.expected[q]
                if not check.rows_match(df.columns, [tuple(r) for r in rows], cols, want):
                    print(f"perfbench: {q} differs from its oracle", file=sys.stderr)
                    rec["ok"] = False
        return rec

    def final_check(self, spark, ops: list[dict]) -> None:
        pass

    def wrap_layers(self, tracer) -> None:
        pass

    def layer_metrics(self, tracer, traced_ops: list[dict], untraced_ops: list[dict]) -> dict:
        out = {}
        for q in self.queries:
            out[f"plans.{q}.build_s"] = _med([r["build_s"][q] for r in traced_ops if q in r["build_s"]])
            out[f"plans.{q}.exec_s"] = _med([r["exec_s"][q] for r in traced_ops if q in r["exec_s"]])
        return out


def make(name: str, run_dir: str, seed: int, scale: float | None):
    if name == "etl_trickle":
        return EtlTrickle(run_dir, seed, EtlTrickle.default_scale if scale is None else scale)
    if name == "curation_mix":
        return QueryMix(CURATION_QUERIES, run_dir, seed,
                        MIX_SCALE if scale is None else scale)
    raise KeyError(f"unknown workload {name!r}; expected one of {WORKLOADS}")


# --- span helpers -----------------------------------------------------------


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _med(xs: list[float]) -> float:
    return float(median(xs)) if xs else 0.0


def _med_dur(spans: list[dict]) -> float:
    return _med([s["end_s"] - s["start_s"] for s in spans])
