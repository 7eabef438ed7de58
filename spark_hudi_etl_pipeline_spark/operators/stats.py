"""Persisted file-level column statistics — the Hudi metadata-table
``column_stats`` partition / Delta per-file-stats shape, as a sidecar
above this repo's manifest protocol.

The reference pipeline leans on Hudi's metadata table so query planning
never lists-and-footers the data files themselves
(``pipeline_architecture.py:179-194`` enables the metadata-table-backed
writers; Hudi's ``hoodie.metadata.index.column.stats.enable`` is the
public knob). The economics at 100 TB: a table is O(100k) files, and a
planner that opens every footer per query pays 100k small reads before
the first byte of data — the stats sidecar amortizes that harvest into
ONE tiny parquet (files × stat columns), read in a single metadata-scale
scan. Three operations:

- :func:`build_table_stats` — table service (Hudi async-indexer shape):
  harvest per-file row counts + min/max from parquet FOOTERS of the
  manifest-live file set, persist as ``_stats``. Footer-only; no data
  pages are read.
- :func:`read_stats_range` — range scan that consults the sidecar to
  prune files whose [min, max] cannot intersect the predicate, with the
  residual filter always applied (pruning affects cost, never results).
- :func:`group_count_from_stats` — the metadata-only aggregate: on a
  layout clustered by the group column, files with min == max
  contribute their counts FROM THE SIDECAR ALONE; only boundary files
  (min != max) are scanned. ``SELECT status, count(*)`` touches a
  handful of straddling files instead of the table.

Staleness is self-healing, same contract as the bloom sidecars in
``operators/merge.py``: readers validate the sidecar's file set against
the live manifest and silently fall back to footer harvesting on any
mismatch, so a sidecar that lags a commit can never change results —
only pruning efficiency.

Scale note: the harvest auto-routes by file count. Below
``_DRIVER_HARVEST_MAX`` it is a driver loop (a distributed job's fixed
overhead exceeds the footer reads); above it, the file LIST is
parallelized through Spark and the identical pyarrow footer read runs
per executor partition via ``mapInPandas`` — same output schema and
values on both paths. Query PLANNING (``_sidecar_rows``) stays a
driver-side read of the one tiny sidecar parquet regardless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..session import local_frame
from .clustering import file_column_bounds
from .merge import table_live_files

_STATS_DIR = "_stats"


def _stats_schema(spark: SparkSession, path: str, first: str, cols: list[str]):
    base = spark.read.parquet(os.path.join(path, first)).select(*cols).schema
    fields = [
        StructField("file", StringType(), False),
        StructField("rows", LongType(), False),
    ]
    for f in base:
        fields.append(StructField(f"min_{f.name}", f.dataType, True))
        fields.append(StructField(f"max_{f.name}", f.dataType, True))
    return StructType(fields)


# Below this many files the harvest stays a driver loop — a distributed
# job's fixed overhead (scheduling + Arrow round-trip) costs more than
# the footer reads it parallelizes. Above it, the file LIST becomes the
# dataset and the identical pyarrow footer read runs per executor
# partition, so a 100k-file cold harvest is minutes of parallel
# metadata reads instead of hours of serial driver wall.
_DRIVER_HARVEST_MAX = 64


def _harvest_stats_df(
    spark: SparkSession, path: str, cols: list[str], files: list[str]
) -> DataFrame:
    """The per-file stats relation for ``files`` (schema:
    ``_stats_schema``), harvested from parquet footers. Small file sets
    use the driver loop; large ones distribute the file list through
    Spark and run the identical :func:`file_column_bounds` footer read
    inside ``mapInPandas`` — the output schema and values are the same
    on both paths (property-tested in tests/test_stats.py)."""
    schema = _stats_schema(spark, path, files[0], cols)
    names = sorted(files)
    if len(names) <= _DRIVER_HARVEST_MAX:
        bounds = file_column_bounds(path, cols, files=names)
        rows = [
            tuple([b["file"], b["rows"]] + [v for c in cols for v in b[c]])
            for b in bounds
        ]
        return local_frame(spark, rows, schema)

    field_names = [f.name for f in schema.fields]

    def harvest(batches):
        import pandas as pd

        for pdf in batches:
            bounds = file_column_bounds(
                path, cols, files=pdf["file"].tolist()
            )
            yield pd.DataFrame(
                [
                    tuple(
                        [b["file"], b["rows"]]
                        + [v for c in cols for v in b[c]]
                    )
                    for b in bounds
                ],
                columns=field_names,
            )

    nparts = max(1, min(len(names) // 8, spark.sparkContext.defaultParallelism))
    return (
        local_frame(spark, [(n,) for n in names], "file string")
        .repartition(nparts)
        .mapInPandas(harvest, schema)
    )


def build_table_stats(spark: SparkSession, path: str, cols: list[str]) -> int:
    """Harvest per-file stats for ``cols`` from the live files' parquet
    footers and persist the ``_stats`` sidecar. Returns the number of
    files indexed. Rerun after commits (table service); readers
    self-heal on staleness rather than require it. The harvest
    distributes across executors past ``_DRIVER_HARVEST_MAX`` files."""
    _, live = table_live_files(path)
    if not live:
        raise FileNotFoundError(f"no data files at {path!r}")
    df = _harvest_stats_df(spark, path, cols, live)
    # repartition(1), NOT coalesce(1): coalesce is a narrow dependency
    # that would collapse the distributed footer-harvest stage itself
    # to a single task — the shuffle barrier keeps the harvest N-way
    # and only the (tiny, O(files)-row) sidecar write runs single-task.
    df.repartition(1).write.mode("overwrite").parquet(
        os.path.join(path, _STATS_DIR)
    )
    return len(live)


def _valid_stats(
    spark: SparkSession, path: str, live: list[str]
) -> DataFrame | None:
    """The sidecar relation when present AND exactly covering the live
    manifest file set, else None (fall back to footers)."""
    sdir = os.path.join(path, _STATS_DIR)
    if not os.path.isdir(sdir):
        return None
    df = spark.read.parquet(sdir)
    have = {r["file"] for r in df.select("file").distinct().collect()}
    return df if have == set(live) else None


def _sidecar_rows(path: str, live: list[str]) -> list[dict] | None:
    """The sidecar rows as plain python dicts — a DRIVER-SIDE pyarrow
    read of the one tiny stats parquet, no Spark job: query PLANNING
    must stay metadata-scale (a fixed-overhead distributed job per
    planning decision would cost more than the footer storm it
    replaces). None when missing or stale (file sets differ)."""
    import glob

    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, _STATS_DIR, "*.parquet")))
    if not parts:
        return None
    rows: list[dict] = []
    for p in parts:
        rows.extend(pq.read_table(p).to_pylist())
    return rows if {r["file"] for r in rows} == set(live) else None


def stats_candidate_files(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[list[str], list[str]]:
    """(candidate files whose [min, max] may intersect [lo, hi], all
    live files). Files with no usable stats (all-null column, stat-less
    row group) are conservatively kept. Exposed for tests and for
    composing custom pruned readers. Pure driver-side planning: one
    sidecar read (or the per-file footer fallback), no Spark job.

    ``lo``/``hi`` must be of the column's python value type; the one
    supported coercion is DATE probes against a TIMESTAMP column
    (promoted to midnight — matching Spark's coercion of the residual
    filter). Mixed types otherwise raise rather than silently
    mis-prune."""
    _, live = table_live_files(path)
    rows = _sidecar_rows(path, live)
    if rows is not None:
        mn, mx = f"min_{col}", f"max_{col}"
        sample = next(
            (r[mn] for r in rows if r[mn] is not None), None
        )
        plo, phi = _promote(sample, lo), _promote(sample, hi)
        cand = [
            r["file"]
            for r in rows
            if r[mn] is None or not (r[mx] < plo or r[mn] > phi)
        ]
        return sorted(cand), live
    bounds = file_column_bounds(path, [col], files=live)
    sample = next((b[col][0] for b in bounds if b[col][0] is not None), None)
    lo, hi = _promote(sample, lo), _promote(sample, hi)
    cand = [
        b["file"]
        for b in bounds
        if b[col][0] is None or not (b[col][1] < lo or b[col][0] > hi)
    ]
    return sorted(cand), live


def _promote(bound_sample, v):
    """Align a probe value's python type with the footer statistics'
    (a DATE probe against a TIMESTAMP column becomes midnight of that
    day — the same coercion Spark applies to the residual filter)."""
    import datetime

    if (
        isinstance(bound_sample, datetime.datetime)
        and isinstance(v, datetime.date)
        and not isinstance(v, datetime.datetime)
    ):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def read_stats_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> DataFrame:
    """Range scan ``col BETWEEN lo AND hi`` reading ONLY the sidecar's
    candidate files. The residual predicate always applies (candidate
    ranges may merely overlap), so results are exact no matter how well
    — or whether — pruning worked."""
    cand, live = stats_candidate_files(spark, path, col, lo, hi)
    reader = spark.read.parquet(
        *[os.path.join(path, f) for f in (cand or [live[0]])]
    )
    out = reader.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    return out.limit(0) if not cand else out


def group_count_from_stats(
    spark: SparkSession, path: str, col: str
) -> DataFrame:
    """``SELECT col, count(*) GROUP BY col`` answered mostly from
    metadata: on a layout clustered by ``col``, every file with
    min == max is PURE — its whole row count attributes to that single
    value straight from the sidecar — and only the boundary files
    straddling two values are scanned. Returns ``(col, n_rows)``.

    Requires a valid sidecar (raises on missing/stale: a metadata-only
    aggregate with no metadata is a contradiction — callers fall back
    to a plain groupBy themselves)."""
    _, live = table_live_files(path)
    stats = _valid_stats(spark, path, live)
    if stats is None:
        raise FileNotFoundError(
            f"no manifest-consistent {_STATS_DIR!r} sidecar at {path!r}; "
            "run build_table_stats after the latest commit"
        )
    mn, mx = f"min_{col}", f"max_{col}"
    pure = (
        stats.filter(F.col(mn) == F.col(mx))
        .groupBy(F.col(mn).alias(col))
        .agg(F.sum("rows").alias("n_rows"))
    )
    boundary = [
        r["file"]
        for r in stats.filter(
            F.col(mn).isNull() | (F.col(mn) != F.col(mx))
        )
        .select("file")
        .collect()
    ]
    if not boundary:
        return pure.orderBy(col)
    scanned = (
        spark.read.parquet(*[os.path.join(path, f) for f in boundary])
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        pure.unionByName(scanned)
        .groupBy(col)
        .agg(F.sum("n_rows").alias("n_rows"))
        .orderBy(col)
    )
