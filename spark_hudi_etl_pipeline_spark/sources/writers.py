"""Table layout writers: bucketing and partitioning for shuffle-free
joins and partition-pruned scans.

The reference writes non-partitioned Hudi COW tables and leans on the
connector's key index (SURVEY.md §1.4, §2.1 S3/S6). At 100 TB the
equivalent pure-Spark leverage is physical layout:

- **Bucketed tables** (hash-clustered by join/merge key): two tables
  bucketed by the same key with the same bucket count join WITHOUT a
  shuffle on either side — the planner trusts the bucket spec as the
  output partitioning. This is how the fact-fact ``orders ⋈ lineitem``
  join and the upsert merge (operators/merge.py) drop their exchange at
  scale.
- **Partitioned layout** (directory-per-value): equality/range filters
  on the partition column prune entire directories at planning time
  (``PartitionFilters`` in the scan node) — the batch twin of the
  reference's incremental predicate (`:221-224`), made physical.

Bucketing requires the table catalog (``saveAsTable``); plain
``.parquet(path)`` cannot record a bucket spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-clustered)
    catalog table. Joins/aggregations keyed on ``bucket_cols`` between
    tables sharing (cols, n_buckets) plan with zero exchanges; sorting
    within buckets additionally removes the sort of a sort-merge join.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


#: Hidden-partitioning transforms (Iceberg partition-spec semantics):
#: name -> (derive(col) Column fn, rewrite(predicate-bounds) helper).
#: The reader derives partition filters FROM raw-column predicates, so
#: queries never mention the partition column — Iceberg's core pitch
#: ("users don't need to know the layout to get pruning").


def hidden_day(col):
    """days(ts) transform: partition value = the UTC calendar date."""
    from pyspark.sql import functions as F

    return F.date_trunc("day", col).cast("date")


#: Internal partition column of a hidden-partitioned layout; readers
#: derive filters on it and drop it from their result.
_HIDDEN_PART_COL = "__p"


def write_hidden_partitioned(
    df: DataFrame,
    path: str,
    *,
    source_col: str,
    transform,
    mode: str = "overwrite",
) -> None:
    """Iceberg-style HIDDEN partitioning: persist ``df`` partitioned by
    ``transform(source_col)`` under the internal column
    ``__p``. The data columns are unchanged — the layout is
    metadata the reader exploits, not schema the user sees."""
    out = df.withColumn(_HIDDEN_PART_COL, transform(df[source_col]))
    out.write.mode(mode).partitionBy(_HIDDEN_PART_COL).parquet(path)


def read_hidden_day_range(
    spark,
    path: str,
    *,
    source_col: str,
    lo,
    hi,
) -> DataFrame:
    """Read a day-hidden-partitioned table with a ``source_col`` range
    predicate [lo, hi): the reader DERIVES the partition filter
    (``__p`` between date(lo) and date(hi)) from the raw-column
    bounds, so the scan prunes directories (PartitionFilters — asserted
    in tests) while the row-level predicate still applies exactly. The
    caller never references the partition column; it is dropped from
    the result — Iceberg's hidden-partitioning contract."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    pruned = df.filter(
        (F.col(_HIDDEN_PART_COL) >= lo_c.cast("date"))
        & (F.col(_HIDDEN_PART_COL) <= hi_c.cast("date"))
    )
    exact = pruned.filter(
        (F.col(source_col) >= lo_c) & (F.col(source_col) < hi_c)
    )
    return exact.drop(_HIDDEN_PART_COL)


def evolve_partition_spec(
    spark,
    path: str,
    batch: DataFrame,
    *,
    source_col: str,
    transform,
) -> None:
    """Iceberg PARTITION EVOLUTION: change a table's partition spec for
    FUTURE writes without rewriting history. Spec-v0 data stays where it
    is (``path/spec0``, unpartitioned); this call appends ``batch``
    under spec v1 (``path/spec1``, hidden-partitioned by
    ``transform(source_col)``). Old files are never touched — evolution
    is a metadata decision, exactly why Iceberg can change specs on a
    100 TB table in O(1)."""
    write_hidden_partitioned(
        batch,
        f"{path}/spec1",
        source_col=source_col,
        transform=transform,
        mode="append",
    )


def read_evolved_day_range(
    spark,
    path: str,
    *,
    source_col: str,
    lo,
    hi,
) -> DataFrame:
    """Range-read a spec-evolved table: spec-v1 directories prune via
    the derived partition filter (read_hidden_day_range), spec-v0 data
    — written before evolution, unpartitioned — applies the same raw
    predicate row-level (no pruning available for history; that is the
    evolution trade Iceberg documents: old data keeps old spec's scan
    profile until optionally rewritten). One result, one schema."""
    import os

    from pyspark.sql import functions as F

    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    pred = lambda d: d.filter(
        (F.col(source_col) >= lo_c) & (F.col(source_col) < hi_c)
    )
    parts = []
    if os.path.isdir(os.path.join(path, "spec0")):
        parts.append(pred(spark.read.parquet(f"{path}/spec0")))
    if os.path.isdir(os.path.join(path, "spec1")):
        parts.append(
            read_hidden_day_range(
                spark, f"{path}/spec1", source_col=source_col, lo=lo, hi=hi
            )
        )
    if not parts:
        raise FileNotFoundError(f"no spec directories under {path!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
