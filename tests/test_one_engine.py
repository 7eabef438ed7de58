"""One engine per operator: the package keeps no second implementation
of a function that only parity tests run, and no option that picks
between engines. Reference implementations that tests compare against
live in the tests (e.g. ``tests/test_dedup.py::_minhash_signature``)."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components
from spark_hudi_etl_pipeline_spark.operators.similarity import rp_lsh_ann

PKG = Path(__file__).resolve().parent.parent / "spark_hudi_etl_pipeline_spark"

#: Expression twins a registered query still runs beside their Arrow form.
#: ``text.quality_score``: ``sample_by_quality_bucket`` and
#: ``streaming_quality_filter`` (plans/text_plans.py) run the expression
#: form, and it has not been A/B'd against ``quality_score_arrow`` there.
_TWINS_IN_USE = {"quality_score"}


def test_no_function_beside_its_arrow_twin():
    defined = {
        node.name
        for path in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
    }
    twins = {n.removesuffix("_arrow") for n in defined if n.endswith("_arrow")}
    assert twins & defined == _TWINS_IN_USE


def test_operators_take_no_engine_selecting_parameter():
    assert list(inspect.signature(connected_components).parameters) == [
        "nodes", "edges", "id_col", "max_iterations",
    ]
    assert list(inspect.signature(rp_lsh_ann).parameters) == [
        "corpus", "queries", "corpus_id", "query_id", "vec_col",
        "dim", "n_bits", "k",
    ]
