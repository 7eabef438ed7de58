"""One wave of Python tasks per Arrow-UDF stage: the ``local`` profile
leaves ``spark.default.parallelism`` to Spark (the core count), and every
split-starved UDF scan fans out through the one ``session.fan_out``.

Each Python-worker task pays a fixed 0.15–0.4 s before it reads a row,
so 32 partitions on 4 cores cost 8 waves of it; a one-task UDF stage
leaves the other cores idle."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from spark_hudi_etl_pipeline_spark.plans import QUERIES
from spark_hudi_etl_pipeline_spark.session import ENV_CONFIGS
from tests.conftest import SF_SMALL

PKG = Path(__file__).resolve().parent.parent / "spark_hudi_etl_pipeline_spark"


def _udf_input(plan: str) -> str:
    """The plan line right below the (single) Arrow UDF node."""
    lines = plan.splitlines()
    (i,) = [n for n, line in enumerate(lines) if "ArrowEvalPython" in line]
    return lines[i + 1]


def test_local_profile_leaves_default_parallelism_to_spark():
    assert "spark.default.parallelism" not in ENV_CONFIGS["local"]


def test_package_defines_one_fan_out_helper():
    """Only ``session.fan_out`` reads ``defaultParallelism`` to
    repartition, and no other helper carries a fan-out name."""
    fanning, named = [], []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            where = f"{path.relative_to(PKG)}::{node.name}"
            body = ast.get_source_segment(src, node)
            if "defaultParallelism" in body and ".repartition(" in body:
                fanning.append(where)
            if any(w in node.name for w in ("fan_out", "spread", "scan_partitions")):
                named.append(where)
    assert named == ["session.py::fan_out"]
    # operators/stats.py sizes a metadata frame by its file count, capped
    # at defaultParallelism; that is not a fan-out of a scan.
    assert fanning == ["operators/stats.py::_harvest_stats_df", "session.py::fan_out"]


@pytest.mark.parametrize("name", ["text_quality_scores", "text_repetition_filters"])
def test_text_udf_reads_a_fanned_out_scan(spark, name):
    from spark_hudi_etl_pipeline_spark.pipeline.costlog import plan_text

    dp = spark.sparkContext.defaultParallelism
    plan, _ = plan_text(QUERIES[name](spark, SF_SMALL))
    assert f"Exchange RoundRobinPartitioning({dp})," in _udf_input(plan)


def test_minhash_signature_reads_a_fanned_out_scan(spark, monkeypatch):
    """The signature stage is the frame lsh_candidate_pairs checkpoints
    first; capture its plan there and stop before any job runs."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import lsh_candidate_pairs
    from spark_hudi_etl_pipeline_spark.pipeline.costlog import plan_text
    from spark_hudi_etl_pipeline_spark.sources import load_table

    class Captured(Exception):
        pass

    def capture(df, *args, **kwargs):
        raise Captured(plan_text(df)[0])

    docs = load_table(spark, SF_SMALL, "documents")
    assert len(docs.inputFiles()) == 1  # the split-starved case
    monkeypatch.setattr(type(docs), "localCheckpoint", capture)
    with pytest.raises(Captured) as got:
        lsh_candidate_pairs(docs, "doc_id", "text")
    dp = spark.sparkContext.defaultParallelism
    assert "signature(" in got.value.args[0]
    assert f"Exchange RoundRobinPartitioning({dp})," in _udf_input(got.value.args[0])
