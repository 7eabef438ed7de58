"""One wave of Python tasks per Arrow-UDF stage: the ``local`` profile
leaves ``spark.default.parallelism`` to Spark (the core count), and every
split-starved UDF scan fans out through the one ``session.fan_out``.

Each Python-worker task pays a fixed 0.15–0.4 s before it reads a row,
so 32 partitions on 4 cores cost 8 waves of it; a one-task UDF stage
leaves the other cores idle.

Every row goes through Python once: a global sort above a Python stage
samples its range bounds by re-running the stage, so an ordered query
range-partitions its scan by the output key (``fan_out(df, *order)``)
and sorts within partitions after the stage."""

from __future__ import annotations

import ast
import json
import re
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
    """The UDF reads the scan range-partitioned by the output key, one
    partition per core, and no global sort sits above it."""
    from spark_hudi_etl_pipeline_spark.pipeline.costlog import plan_text

    dp = spark.sparkContext.defaultParallelism
    plan, _ = plan_text(QUERIES[name](spark, SF_SMALL))
    assert re.match(
        rf"\s*\+- Exchange rangepartitioning\(doc_id#\d+L ASC NULLS FIRST, {dp}\),",
        _udf_input(plan),
    )
    assert plan.count("Exchange rangepartitioning") == 1


#: The queries whose Python stage sat under a global sort's range
#: exchange, and the key columns of their output order.
ORDERED_PYTHON_QUERIES = {
    "text_quality_scores": ["doc_id"],
    "text_repetition_filters": ["doc_id"],
    "multimodal_decode_features": ["media_id"],
    "multimodal_audio_features": ["media_id"],
    "multimodal_video_frames": ["media_id"],
    "audio_vad_segments": ["media_id", "seg_idx"],
    "embedding_neardup_blocked": ["id_a", "id_b"],
}


@pytest.mark.parametrize("name", sorted(ORDERED_PYTHON_QUERIES))
def test_ordered_python_query_keeps_order_and_rows(spark, name):
    """Sorted within range partitions, the collected rows are in key
    order, and they are the rows a global sort of the output returns
    (the keys are unique, so the two lists must be equal)."""
    order = ORDERED_PYTHON_QUERIES[name]
    df = QUERIES[name](spark, SF_SMALL)
    rows = df.collect()
    keys = [tuple(r[k] for k in order) for r in rows]
    assert rows and keys == sorted(keys)
    assert rows == df.orderBy(*order).collect()


def test_plan_golden_has_no_python_resampled():
    """No registered query sends its rows through Python twice: a
    regenerated golden cannot quietly accept a range exchange over a
    Python stage."""
    golden = json.loads((PKG.parent / "tools" / "plan_golden.json").read_text())
    assert set(golden) == set(QUERIES)
    assert {q: s["python_resampled"] for q, s in golden.items() if s["python_resampled"]} == {}


def test_minhash_signature_reads_a_fanned_out_scan(spark):
    """lsh_candidate_pairs returns its pairs lazily, with the signature
    stage in their plan: that stage reads a scan fanned out to one task
    per core. Planning only, no job runs."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import lsh_candidate_pairs
    from spark_hudi_etl_pipeline_spark.pipeline.costlog import plan_text
    from spark_hudi_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    assert len(docs.inputFiles()) == 1  # the split-starved case
    plan = plan_text(lsh_candidate_pairs(docs, "doc_id", "text"))[0]
    dp = spark.sparkContext.defaultParallelism
    assert "signature(" in plan
    assert f"Exchange RoundRobinPartitioning({dp})," in _udf_input(plan)
