"""The benchmark's own tests: a tiny-scale smoke of every workload, the
traced run's per-layer output, a wrong expected ETL checksum and a wrong
expected curation row each counted as a failure, and a refusal to run
without the engine.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark JVM in a child process, as the benchmark
is run, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE = ["--seed", "7", "--seconds", "1", "--scale", "0.001"]


def _run(args, code: str | None = None, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [
        sys.executable, "-c", code, *args
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_reports_every_end_to_end_metric(workload):
    res = _result(_run(["--workload", workload, "--trace", "0", *SMOKE]))
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_layers_and_writes_spans():
    res = _result(_run(["--workload", "etl_trickle", "--trace", "1", *SMOKE]))
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["pipeline.jobs_per_batch"] > 0 and m["merge.upsert_parquet_s"] > 0
    assert m["spark.executor_run_s"] > 0 and m["merge.bytes_written_per_input_byte"] > 0
    trace = json.loads((ROOT / "perfbench" / "traces" / "etl_trickle-seed7.json").read_text())
    names = {s["name"] for s in trace["spans"]}
    assert {"op", "pipeline.run_pipeline", "merge.upsert_parquet", "pipeline.write_log_entry"} <= names
    assert all("spark" in s for s in trace["spans"])


def test_wrong_expected_checksum_counts_as_failure():
    # Patch the expected state in the child process only: the engine's
    # output is right, the benchmark's expectation is off by one cent.
    code = (
        "import sys; sys.path.insert(0, '.');"
        "from perfbench import run, workloads;"
        "orig = workloads.EtlTrickle.expected_buckets;"
        "workloads.EtlTrickle.expected_buckets = lambda self: "
        "{b: (n, c + 1, x) for b, (n, c, x) in orig(self).items()};"
        "raise SystemExit(run.main(sys.argv[1:]))"
    )
    res = _result(_run(["--workload", "etl_trickle", "--trace", "0", *SMOKE], code=code))
    assert res["failed"] == res["attempted"] and res["correct"] is False


def test_wrong_expected_curation_row_counts_as_failure():
    # One float of one oracle row off by 1e-4, in the child process only:
    # every pass runs that query, so every pass must fail.
    code = textwrap.dedent(
        """
        import sys; sys.path.insert(0, '.')
        from perfbench import run, workloads
        orig = workloads.QueryMix.expected_results
        def off_by_a_little(self):
            out = orig(self)
            cols, rows = out['text_repetition_filters']
            i = cols.index('dup_trigram_frac')
            first = list(rows[0])
            first[i] += 1e-4
            out['text_repetition_filters'] = (cols, [tuple(first), *rows[1:]])
            return out
        workloads.QueryMix.expected_results = off_by_a_little
        raise SystemExit(run.main(sys.argv[1:]))
        """
    )
    res = _result(_run(["--workload", "curation_mix", "--trace", "0", *SMOKE], code=code))
    assert res["failed"] == res["attempted"] and res["correct"] is False


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_runs", "traces", "__pycache__"))
    proc = _run(["--workload", "etl_trickle", "--trace", "0", *SMOKE], cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
