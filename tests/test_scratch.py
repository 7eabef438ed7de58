"""plans.registry.scratch: each process gets its own scratch root, made
on first use and removed at exit; no program file names a fixed checkout
path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Runs without Spark: the helper is plain filesystem work.
_PROBE = """
import json, os
from spark_hudi_etl_pipeline_spark.plans.registry import scratch
first = scratch("/x/sf0.001", "t")
os.makedirs(first)
open(os.path.join(first, "leftover"), "w").close()
second = scratch("/x/sf0.001", "t")
print(json.dumps({
    "path": second,
    "same_path": first == second,
    "second_entries": os.listdir(second) if os.path.exists(second) else [],
}))
"""


def _probe() -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, check=True, timeout=120, cwd=REPO,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_scratch_root_is_per_process_and_removed_at_exit():
    a, b = _probe(), _probe()
    for r in (a, b):
        assert os.path.basename(r["path"]) == "t_sf0_001"
        assert r["same_path"]
        assert r["second_entries"] == []  # a second call starts empty
        root = os.path.dirname(r["path"])
        assert os.path.basename(root).startswith("spark_graft_scratch_")
        assert not os.path.exists(root)  # removed when its process exited
    assert os.path.dirname(a["path"]) != os.path.dirname(b["path"])


def test_no_program_file_names_a_fixed_checkout_path():
    needle = "/root/" + "repo"
    hits = [
        str(p.relative_to(REPO))
        for top in ("spark_hudi_etl_pipeline_spark", "tools", "tests")
        for p in (REPO / top).rglob("*.py")
        if needle in p.read_text()
    ]
    assert hits == []
