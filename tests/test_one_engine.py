"""One engine per operator, one value per unused knob: the package keeps
no second implementation of a function that only parity tests run, no
option that picks between engines, and no defaulted parameter that no
caller sets. Reference implementations that tests compare against live
in the tests (e.g. ``tests/test_dedup.py::_minhash_signature``)."""

from __future__ import annotations

import ast
import dataclasses
import inspect
from collections import Counter, defaultdict
from pathlib import Path

from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components
from spark_hudi_etl_pipeline_spark.operators.similarity import rp_lsh_ann
from spark_hudi_etl_pipeline_spark.pipeline.runner import PipelineConfig

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "spark_hudi_etl_pipeline_spark"

#: Expression twins a registered query still runs beside their Arrow form.
_TWINS_IN_USE: set[str] = set()

#: Defaulted parameters no call site passes that stay settable anyway:
#: deployment settings and credentials, which a deployment sets and no
#: code in this repository does.
_SETTINGS = {
    # Deployment profile; also read from SPARK_GRAFT_ENV.
    ("get_spark_session", "env"),
    # The secret per-release noise seed of a production release; the
    # registered query runs the public demo seed its oracle pins.
    ("dp_noisy_counts_release", "release_seed"),
}


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


def _parsed(paths):
    return [(p, ast.parse(p.read_text())) for p in paths]


def test_every_defaulted_parameter_is_passed_somewhere():
    """A defaulted parameter that no call site passes, by keyword or by
    position, has one value in use: it is a constant. Calls are matched
    by the callee's name; a ``*args``/``**kwargs`` call passes
    everything, and names defined twice in the package are skipped. A
    test argument written as the default itself passes nothing: it
    reaches no path the default does not."""
    package = _parsed(PKG.rglob("*.py"))
    tests = _parsed((REPO / "tests").rglob("*.py"))
    others = _parsed([
        *(REPO / "tools").rglob("*.py"), REPO / "bench.py",
        *(REPO / "perfbench").rglob("*.py"),
    ])
    defs = [
        (path, node)
        for path, tree in package
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    n_defs = Counter(node.name for _, node in defs)
    calls, star = defaultdict(list), set()
    for group in (package + others, tests):
        for _, tree in group:
            for call in ast.walk(tree):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    star.add(name)
                calls[name].append((call, group is tests))
    unpassed = []
    for path, fn in defs:
        if n_defs[fn.name] > 1 or fn.name in star:
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        implicit = 1 if positional and positional[0].arg in ("self", "cls") else 0
        defaults = dict(
            zip([p.arg for p in positional[len(positional) - len(a.defaults):]],
                a.defaults)
        )
        defaults |= {
            p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        }
        passed = set()
        for call, in_tests in calls[fn.name]:
            given = {
                positional[i].arg: v
                for i, v in enumerate(call.args, implicit)
                if i < len(positional)
            }
            given |= {k.arg: k.value for k in call.keywords}
            passed |= {
                n for n, v in given.items()
                if n in defaults
                and not (in_tests and ast.dump(v) == ast.dump(defaults[n]))
            }
        unpassed += [
            (fn.name, n, path.name, fn.lineno) for n in defaults if n not in passed
        ]
    assert [u for u in unpassed if u[:2] not in _SETTINGS] == []
    assert {u[:2] for u in unpassed} == _SETTINGS


def test_pipeline_config_has_no_unset_fields():
    names = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert not names & {"order_by", "stamp_metadata"}
