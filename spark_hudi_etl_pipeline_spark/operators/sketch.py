"""Mergeable frequency sketches: Count-Min (Cormode & Muthukrishnan
2005) as a pure relational plan.

The reference pipeline reports exact per-run counts
(pipeline_architecture.py:305-315); at 100 TB the questions shift to
"which tokens/domains/keys are FREQUENT" where exact per-item state is
O(distinct items) — unbounded. A Count-Min sketch bounds state at
``depth × width`` integer cells whatever the corpus size, supports
point-frequency queries with one-sided error (estimate ≥ truth,
overshoot ≤ εN with probability 1-δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉),
and — the property that matters on a cluster — is MERGEABLE: the
sketch of a union is the cell-wise sum of the sketches, so partial
sketches combine map-side exactly like a partial count aggregate.

Spark shape: building the sketch is ONE explode(depth hash exprs) +
groupBy(row, col) — a single shuffle whose key space is at most
``depth·width`` cells, independent of data volume; the partial
aggregation does almost all the work map-side (every executor's local
sketch is already the final shape). Estimation broadcasts the tiny
cell relation against the candidate items. No driver loops, no UDFs.

Hashing is engine-portable md5 (first 8 hex chars → int, mod width —
the same idiom as the hashed DSIR features in
``plans/training_plans.py``), so a DuckDB oracle can rebuild the
IDENTICAL sketch cell-for-cell; swap xxhash64(seed, item) % width in
production for one cheaper hash with the same plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(col: Column | str, seed: int, width: int) -> Column:
    """Row-``seed``'s cell index for an item: first 8 md5 hex chars of
    ``"<seed>|<item>"`` as an integer, mod ``width``. Deterministic and
    reproducible in any engine with md5 (fits in 32 bits, no sign
    traps)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), c)), 1, 8), 16, 10)
        .cast("long")
        % width
    )


def cms_build(
    df: DataFrame,
    col: str,
    *,
    width: int = 512,
    depth: int = 3,
    weight: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``df[col]`` → cell relation
    ``(row int, col long, cnt long)`` with at most ``depth × width``
    rows. ``weight`` sums that column per cell instead of counting
    occurrences (weighted CMS). One shuffle, bounded key space,
    map-side partials do the heavy lifting."""
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    cells = df.select(
        F.posexplode(
            F.array(*[cms_bucket(col, i, width) for i in range(depth)])
        ).alias("row", "col"),
        w.alias("w"),
    )
    return cells.groupBy("row", "col").agg(F.sum("w").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    col: str,
    *,
    width: int = 512,
    depth: int = 3,
) -> DataFrame:
    """Point-frequency estimates for ``items[col]``: min over the
    item's ``depth`` cells (absent cell ⇒ 0). The sketch is broadcast —
    it is at most ``depth × width`` rows — so estimation never shuffles
    the candidate relation. Returns ``items`` columns + ``cms_cnt``.

    Estimates are ≥ the true frequency always (cells only ever count
    supersets of an item's occurrences) — the one-sided guarantee
    callers may rely on for threshold filters (no false negatives)."""
    probes = items.select(
        "*",
        F.posexplode(
            F.array(*[cms_bucket(col, i, width) for i in range(depth)])
        ).alias("row", "col"),
    )
    return (
        probes.join(F.broadcast(cms), ["row", "col"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(*items.columns)
        .agg(F.min("cnt").alias("cms_cnt"))
    )
