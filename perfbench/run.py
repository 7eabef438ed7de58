"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_trickle --seed 1 --seconds 10 --trace 0

Runs one workload in one process: one ``local[nproc]`` Spark session,
one closed-loop client issuing the next operation when the previous one
has finished. Inputs are generated from ``--seed`` under a fresh per-run
directory that is removed at exit. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the run measures twice
``--seconds``, alternating untraced and traced operations, reports the
per-layer metrics and writes its spans to
``perfbench/traces/<workload>-seed<seed>.json``. See ``BENCHMARK.json``
and ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from statistics import median

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE = "spark_hudi_etl_pipeline_spark"

SPARK_METRICS = (
    ("spark.scan_s", "scan_ms", 1e-3),
    ("spark.scan_bytes", "input_bytes", 1.0),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1.0),
    ("spark.shuffle_write_s", "shuffle_write_ns", 1e-9),
    ("spark.shuffle_fetch_wait_s", "fetch_wait_ms", 1e-3),
    ("spark.agg_build_s", "agg_build_ms", 1e-3),
    ("spark.sort_s", "sort_ms", 1e-3),
    ("spark.broadcast_build_s", "broadcast_build_ms", 1e-3),
    ("spark.python_bytes", "python_bytes", 1.0),
    ("spark.executor_run_s", "executor_run_ms", 1e-3),
    ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9),
    ("spark.gc_s", "gc_ms", 1e-3),
    ("spark.spill_bytes", "spill_bytes", 1.0),
    ("spark.failed_tasks", "failed_tasks", 1.0),
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=None,
        help="input scale factor (default: the workload's own; 0.001 for a smoke run)",
    )
    return p.parse_args(argv)


def _declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _host_sizing() -> tuple[int, str]:
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cores, f"{max(1, min(4, int(ram_gib // 4)))}g"


def _session(run_dir: Path, cores: int):
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    return get_spark_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_configs={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM PySpark launched (it exits when its
    stdin closes), and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _timed_phase(wl, spark, seconds: float, tracer=None) -> list[dict]:
    """Operations back to back for ``seconds``, in order. With a tracer,
    for twice as long, alternating untraced and traced operations (the
    traced ones marked ``traced``) so both see the same JVM warmth."""
    ops: list[dict] = []
    deadline = time.perf_counter() + seconds * (2 if tracer else 1)
    while len(ops) < (2 if tracer else 1) or time.perf_counter() < deadline:
        if tracer is None or len(ops) % 2 == 0:
            ops.append(wl.op(spark))
            continue
        wl.wrap_layers(tracer)
        try:
            ops.append({**wl.op(spark, tracer), "traced": True})
        finally:
            tracer.unwrap()
    return ops


def _spark_layer(tracer, cores: int) -> dict:
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    total: dict[str, float] = {}
    for s in op_spans:
        for k, v in tracer.spark_totals(s["id"]).items():
            total[k] = total.get(k, 0.0) + v
    n = max(len(op_spans), 1)
    out = {name: total.get(key, 0.0) * scale / n for name, key, scale in SPARK_METRICS}
    wall = sum(s["end_s"] - s["start_s"] for s in op_spans)
    out["spark.slot_utilization"] = (
        total.get("executor_run_ms", 0.0) / 1e3 / (wall * cores) if wall > 0 else 0.0
    )
    return out


def run(args, run_dir: Path) -> dict:
    from perfbench import workloads
    from perfbench.trace import Tracer

    declared = _declared()
    cores, driver_mem = _host_sizing()
    os.environ.update(
        TZ="UTC",
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    wl = workloads.make(args.workload, str(run_dir), args.seed, args.scale)

    t0 = time.perf_counter()
    spark = _session(run_dir, cores)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, f"{args.workload}-seed{args.seed}") if args.trace else None
        setup = wl.setup(spark, tracer)
        setup_s = session_s + setup["input_gen_s"] + setup["warmup_s"]
        timed = _timed_phase(wl, spark, args.seconds, tracer)
        ops = setup["ops"] + timed
        untraced = [r for r in timed if not r.get("traced")]
        traced = [r for r in timed if r.get("traced")]
        print(
            f"perfbench: {args.workload} session {session_s:.2f}s, inputs {setup['input_gen_s']:.2f}s,"
            f" warm-up {setup['warmup_s']:.2f}s, setup wall {time.perf_counter() - t0:.2f}s,"
            f" ops {[round(r['wall_s'], 2) for r in ops]}",
            file=sys.stderr,
        )
        wl.final_check(spark, ops)

        attempted = len(ops)
        failed = sum(not r["ok"] for r in ops)
        untraced_p50 = median(r["wall_s"] for r in untraced)
        if not tracer:
            metrics = {"setup_s": setup_s, "op_p50_s": untraced_p50}
            units = declared["end_to_end"]
        else:
            tracer.attach_spark_metrics()
            traced_p50 = median(r["wall_s"] for r in traced)
            metrics = {name: 0.0 for name in declared["per_layer"]}
            metrics.update(
                {
                    "session.get_spark_session_s": session_s,
                    "session.warmup_s": setup["warmup_s"],
                    "session.input_gen_s": setup["input_gen_s"],
                    "trace.untraced_op_p50_s": untraced_p50,
                    "trace.traced_op_p50_s": traced_p50,
                    "trace.overhead_s": traced_p50 - untraced_p50,
                }
            )
            metrics.update(wl.layer_metrics(tracer, traced, untraced))
            metrics.update(_spark_layer(tracer, cores))
            units = declared["per_layer"]
            out_dir = BENCH_DIR / "traces"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(
                str(out_dir / f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "cores": cores, "metrics": metrics},
            )
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / ENGINE).is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: {ROOT} holds no {ENGINE} package to benchmark", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    runs = BENCH_DIR / "_runs"
    run_dir = runs / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
