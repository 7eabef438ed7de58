"""Clustering table service: rewrite a table so file-level min/max
statistics become an index — Hudi's *clustering* (``hoodie.clustering``,
linear-sort and z-order modes), re-expressed as Spark layout jobs.

Why this matters at 100 TB: parquet readers skip row groups whose
column statistics exclude the predicate. Unclustered data has every
file spanning the whole value domain, so nothing skips; after
clustering, a selective predicate touches O(matching files) instead of
O(table). The reference leans on Hudi for this table service
(pipeline_architecture.py:183-192 writes COW tables Hudi would
cluster); here it is two explicit rewrite strategies:

- **Linear (range) clustering** — ``repartitionByRange`` + sort within
  partitions on the cluster key: per-file key ranges are disjoint, so a
  point/range predicate on the key touches ~1 file. Best single-column
  skipping; orthogonal columns keep full-domain spans.
- **Z-order clustering** — files ordered by interleaving the bits of
  two quantile-coded columns: each file covers a small *rectangle* of
  the 2-D domain, so predicates on EITHER column skip most files (at
  the cost of slightly worse single-column locality than linear sort).

Everything stays distributed: quantile codes come from
``QuantileDiscretizer`` (sketch-fit boundaries aggregated tree-wise, a
JVM binary-search transform per row — no global window, no Python), the
bit interleave is plain integer shift expressions (whole-stage codegen,
ANSI-safe far below 2^63), and the rewrite itself is one range exchange
plus a local sort — the cost of writing the data once. Quantile (not
equal-width) coding keeps the boxes balanced under skew.

``file_column_bounds`` reads the parquet footers (no data pages) and is
the evidence the tests assert on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .merge import _commit_staged, table_record

#: Bits per dimension in the Morton code (256 quantile buckets/dim).
_BITS = 8


def quantile_codes(
    df: DataFrame, cols: list[str], *, bits: int = _BITS
) -> DataFrame:
    """Add ``__code_<col>`` integer columns in [0, 2^bits) — each
    column's sketch-based quantile bucket. Distribution-free: heavy skew
    still yields balanced codes, which is what keeps z-boxes square."""
    from pyspark.ml.feature import QuantileDiscretizer

    n = 1 << bits
    tmp = [f"__dbl_{c}" for c in cols]
    out = [f"__code_{c}" for c in cols]
    for c, t in zip(cols, tmp):
        # Temporal columns order by their epoch value (date/timestamp
        # have no direct double cast); everything else casts directly.
        dt = df.schema[c].dataType.typeName()
        src = (
            F.col(c).cast("timestamp")
            if dt in ("date", "timestamp_ntz")
            else F.col(c)
        )
        df = df.withColumn(t, src.cast("double"))
    disc = QuantileDiscretizer(
        numBucketsArray=[n] * len(cols),
        inputCols=tmp,
        outputCols=out,
        relativeError=1.0 / (4 * n),
        handleInvalid="keep",
    )
    coded = disc.fit(df).transform(df)
    for t, o in zip(tmp, out):
        coded = coded.drop(t).withColumn(
            o, F.least(F.col(o).cast("long"), F.lit(n - 1))
        )
    return coded


def zorder_value_nd(codes: list[Column], *, bits: int = _BITS) -> Column:
    """Round-robin bit interleave of N ``bits``-bit codes into one Morton
    value: bit i of dimension j lands at position i*N + j, so every
    dimension's low bits stay low — each file covers a small N-D box and
    predicates on ANY clustered column skip files. Pure integer
    shift/mod expressions (whole-stage codegen, no UDF); N*bits must fit
    a long, which :func:`cluster_zorder_nd` guarantees by shrinking bits
    per dimension as N grows (Hudi's N-column
    ``hoodie.clustering.plan.strategy.sort.columns`` z-order mode)."""
    n = len(codes)
    if n * bits > 62:
        raise ValueError(
            f"{n} dims x {bits} bits = {n * bits} interleaved bits "
            "exceeds the ANSI-safe long range; lower bits per dimension"
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, code in enumerate(codes):
            z = z + F.shiftleft(F.shiftright(code, i) % 2, i * n + j)
    return z


def cluster_linear(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Linear clustering: range-partition into ``n_files`` output files
    ordered by ``cols`` (boundaries from Spark's reservoir sampling);
    per-file ranges on ``cols[0]`` are disjoint."""
    return df.repartitionByRange(
        n_files, *[F.col(c) for c in cols]
    ).sortWithinPartitions(*cols)


def cluster_zorder(
    df: DataFrame, xcol: str, ycol: str, n_files: int
) -> DataFrame:
    """Z-order clustering on two columns: order by the Morton code of
    their quantile codes, range-split into ``n_files`` files. The code
    columns are dropped before write."""
    return cluster_zorder_nd(df, [xcol, ycol], n_files)


def cluster_zorder_nd(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """N-dimensional z-order clustering (Hudi's clustering service
    accepts N sort columns): order by the round-robin Morton code of the
    columns' quantile codes, range-split into ``n_files`` files.

    Bits per dimension are ``min(8, 62 // N)`` — the full 256
    buckets/dim through 7 dims, degrading gracefully beyond (coarser
    boxes, never overflow). The curse of dimensionality is real: each
    added dimension halves per-dimension skipping power, so 2-4 columns
    is the sweet spot — but the operator no longer caps at 2."""
    if not cols or len(set(cols)) != len(cols):
        raise ValueError(f"cols must be non-empty and distinct: {cols}")
    bits = min(_BITS, 62 // len(cols))
    coded = quantile_codes(df, cols, bits=bits)
    code_cols = [f"__code_{c}" for c in cols]
    zv = zorder_value_nd([F.col(c) for c in code_cols], bits=bits)
    return (
        coded.withColumn("__zval", zv)
        .repartitionByRange(n_files, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval", *code_cols)
    )


def write_clustered(df: DataFrame, path: str) -> None:
    """Commit a clustered rewrite (the output of :func:`cluster_linear`
    / :func:`cluster_zorder`) as the whole table at ``path``: one
    manifest version (``merge._commit_staged``) replacing every live
    file, one file per range partition, named in range order."""
    _commit_staged(path, df, table_record(path)["version"] + 1, kept=[])


def file_column_bounds(
    path: str, cols: list[str], *, files: list[str] | None = None
) -> list[dict]:
    """Per-file (min, max) statistics for ``cols`` from the parquet
    footers — the skipping index a reader consults. Footer-only reads;
    no data pages are touched. ``files`` (default: the table's live
    files) restricts the scan to a known file set, so orphaned pre-crash
    files are never consulted."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(table_record(path)["files"] if files is None else files):
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        bounds: dict = {"file": name, "rows": md.num_rows}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo, hi = None, None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            bounds[c] = (lo, hi)
        out.append(bounds)
    return out
