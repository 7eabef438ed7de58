"""Scalar functions C1-C7 from the reference surface (SURVEY.md §2.8).

The reference does ``from pyspark.sql.functions import *`` (C8,
pipeline_architecture.py:2); we expose the handful it actually exercises
as named helpers, each a pure Column expression (codegen'd JVM-side — no
Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

COMPACT_TS_FORMAT = "yyyyMMddHHmmss"


def surrogate_key() -> Column:
    """C1 — per-row ``uuid()`` surrogate key (reference :209).

    Nondeterministic: never include in oracle value-hashes (SURVEY.md §5).
    """
    return F.expr("uuid()")


def parse_compact_timestamp(col: str | Column) -> Column:
    """C2 — ``to_timestamp(col, 'yyyyMMddHHmmss')`` (reference :124-126)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c, COMPACT_TS_FORMAT)


def processing_date() -> Column:
    """C3 — ``current_date()`` stamp (reference :235)."""
    return F.current_date()


def load_timestamp() -> Column:
    """C4 — ``current_timestamp()`` stamp / precombine value (reference :236)."""
    return F.current_timestamp()


def epoch_ms_to_timestamp(col: str | Column) -> Column:
    """C5/C6 — ``FROM_UNIXTIME(x/1000)`` rendering of BIGINT epoch-ms
    (reference :350-356), kept as a proper TimestampType instead of the
    reference's string rendering.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(c.cast("long"))

