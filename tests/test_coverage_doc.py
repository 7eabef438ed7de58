"""COVERAGE.md cites code as ``path.py::name``; every citation resolves
to a top-level def or assignment of that name in that file, so a deleted
or renamed function cannot leave a dangling row behind."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "spark_hudi_etl_pipeline_spark"


def _defined(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def test_every_coverage_citation_resolves():
    """A citation's path is relative to the package or to the repository
    root; ``a/b`` cites two names, and a trailing ``(…)`` shows a call."""
    cites = re.findall(r"`([\w/]+\.py)::([^`(]+)", (REPO / "COVERAGE.md").read_text())
    assert cites
    dangling = []
    for rel, names in cites:
        path = PKG / rel if (PKG / rel).exists() else REPO / rel
        defined = _defined(path) if path.exists() else set()
        dangling += [f"{rel}::{n}" for n in names.split("/") if n not in defined]
    assert dangling == []
