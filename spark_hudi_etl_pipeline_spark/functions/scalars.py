"""Scalar functions C1/C3/C4 from the reference surface (SURVEY.md §2.8).

The reference does ``from pyspark.sql.functions import *`` (C8,
pipeline_architecture.py:2); we expose the handful it actually exercises
as named helpers (the ones the runner and the extract plans stamp
with), each a pure Column expression (codegen'd JVM-side — no
Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def surrogate_key() -> Column:
    """C1 — per-row ``uuid()`` surrogate key (reference :209).

    Nondeterministic: never include in oracle value-hashes (SURVEY.md §5).
    """
    return F.expr("uuid()")


def processing_date() -> Column:
    """C3 — ``current_date()`` stamp (reference :235)."""
    return F.current_date()


def load_timestamp() -> Column:
    """C4 — ``current_timestamp()`` stamp / precombine value (reference :236)."""
    return F.current_timestamp()
