"""Hudi write-operation types beyond ``upsert`` — the rest of the
``hoodie.datasource.write.operation`` surface a reference user has
available on their keyed tables (pipeline_architecture.py:183-192 sets
``operation=upsert``; Hudi's writer accepts ``insert_overwrite``,
``delete_partition`` and ``bulk_insert`` with the same table layout),
re-expressed on hive-layout parquet with Spark-native partition
handling.

Every operation commits one manifest version (``merge._commit_staged``).

Scale notes (100 TB table, incremental batch):

- ``insert_overwrite`` replaces ONLY the partitions the batch lands in
  (the commit keeps the other partitions' live files — bytes and mtimes
  untouched); no read of the existing table at all, which is precisely
  why the operation exists: a recompute-and-replace of recent
  partitions is O(batch), never O(table), and needs no index lookup the
  way ``upsert`` does.
- ``delete_partitions`` is metadata-scale: a commit that drops the
  partitions' files, no data read, no Spark job (Hudi records
  replacecommit instants for this). ``retention_delete`` drops the
  expired partitions and rewrites the boundary one in the same commit.
- ``bulk_insert`` is the initial-load path: no merge, no index — just
  layout control. GLOBAL_SORT range-partitions + sorts so parquet
  footers carry disjoint key ranges (what makes the SIMPLE file index
  of ``merge.upsert_parquet_indexed`` prune later); PARTITION_SORT
  sorts within existing partitions (no shuffle); NONE writes as-is.
- the GLOBAL-index upsert reads (key, partition) column-pruned from the
  table to locate each batch key's current partition — Hudi's
  GLOBAL_SIMPLE index does exactly this scan; GLOBAL_BLOOM replaces it
  with per-file bloom probes (see ``merge.upsert_parquet_bloom_indexed``
  for that machinery on flat tables). The merge itself then touches only
  the partitions involved on either side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import cluster_linear, file_column_bounds
from .merge import (
    _commit_staged,
    _files_by_partition,
    _read_files,
    _upsert_partitioned,
    table_record,
)


def insert_overwrite(
    spark, batch: DataFrame, path: str, partition_col: str
) -> int:
    """Hudi ``insert_overwrite``: atomically replace the partitions the
    batch covers with exactly the batch's rows; every other partition is
    untouched (file-level — bytes and mtimes preserved, asserted in
    tests). No merge, no key semantics: the batch IS the new content of
    its partitions — the operation for recompute-and-replace pipelines
    (e.g. restating the last N days from source-of-truth).

    O(batch): the existing table is never read; one planning job takes
    the batch's partition values (a NULL one raises before anything is
    written). Returns rows written.
    """
    values = {
        r[0]
        for r in batch.select(F.col(partition_col).cast("string")).distinct().collect()
    }
    if None in values:
        raise ValueError(
            f"null partition value in batch column {partition_col!r}"
        )
    rec = table_record(path)
    files = _files_by_partition(spark, rec["files"], partition_col)
    gone = {f for v in values for f in files.get(v, [])}
    kept = [f for f in rec["files"] if f not in gone]
    return _commit_staged(
        path, batch, rec["version"] + 1, kept, partition_col=partition_col
    )[1]


def delete_partitions(
    spark, path: str, partition_col: str, values: list
) -> list:
    """Hudi ``delete_partition``: drop whole partitions by value —
    metadata-scale (a commit that drops their files from the live set,
    no Spark job; Hudi publishes a replacecommit), no data read, the
    retention-enforcement operation for hive-layout tables (e.g.
    dropping expired date partitions). A value matches the partition
    whose decoded directory value is ``str(value)``. Unknown values are
    ignored (idempotent, like re-running a retention job). Returns the
    partition values actually dropped."""
    if any(v is None for v in values):
        raise ValueError("cannot delete the null partition")
    rec = table_record(path)
    files = _files_by_partition(spark, rec["files"], partition_col)
    dropped = [v for v in values if str(v) in files]
    if dropped:
        gone = {f for v in dropped for f in files[str(v)]}
        kept = [f for f in rec["files"] if f not in gone]
        _commit_staged(path, None, rec["version"] + 1, kept)
    return dropped


#: bulk_insert sort modes (Hudi ``hoodie.bulkinsert.sort.mode``).
BULK_SORT_MODES = ("NONE", "PARTITION_SORT", "GLOBAL_SORT")


def bulk_insert(
    spark,
    df: DataFrame,
    path: str,
    *,
    sort_cols: list[str] | None = None,
    mode: str = "GLOBAL_SORT",
    n_files: int = 16,
) -> int:
    """Hudi ``bulk_insert``: the initial-load write — no merge, no
    index maintenance, just layout control via ``mode``:

    - ``GLOBAL_SORT`` (Hudi's default): range-partition + sort by
      ``sort_cols`` so each output file covers a disjoint key range —
      parquet footer min/max become a usable file index (the layout
      ``merge.upsert_parquet_indexed`` prunes on) and later range scans
      skip files. One shuffle, the right trade for a load that will be
      upserted against forever after.
    - ``PARTITION_SORT``: sort within existing partitions only — no
      shuffle; footers are locally tight but ranges overlap across
      files.
    - ``NONE``: write as planned — cheapest, no layout guarantee.

    Returns rows written."""
    if mode not in BULK_SORT_MODES:
        raise ValueError(f"mode must be one of {BULK_SORT_MODES}, got {mode!r}")
    if mode != "NONE" and not sort_cols:
        raise ValueError(f"sort_cols is required for mode={mode!r}")
    if mode == "GLOBAL_SORT":
        out = cluster_linear(df, sort_cols, n_files)
    elif mode == "PARTITION_SORT":
        out = df.sortWithinPartitions(*sort_cols)
    else:
        out = df
    return _commit_staged(path, out, table_record(path)["version"] + 1, kept=[])[1]


def upsert_parquet_partitioned_global(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    partition_col: str,
    *,
    delete_col: str | None = None,
) -> int:
    """GLOBAL-index upsert on a partitioned table (Hudi
    ``hoodie.index.type=GLOBAL_SIMPLE`` with
    ``hoodie.simple.index.update.partition.path=true``): record keys are
    unique across the WHOLE table, and an update whose partition value
    changed MOVES the record — the old partition loses the row, the new
    partition gains it. Contrast ``merge.upsert_parquet_partitioned``
    (non-global index): there the merge key includes the partition, so
    the same batch would duplicate the key into the new partition.

    Execution shape:

    1. *Global index lookup*: a column-pruned scan of
       ``(keys, partition)`` over the table, semi-joined against the
       batch's (broadcast) distinct keys, yields the partitions
       currently holding batch keys — GLOBAL_SIMPLE's exact plan; only
       the key/partition columns are read, never full rows.
    2. *Pruned read*: the live files of those partitions and of the
       batch's own target partitions — the only partitions whose
       contents can change.
    3. :func:`~.merge.merge_upsert` on ``keys`` alone (global identity);
       the winning row's ``partition_col`` value decides where it lives,
       which is precisely how the move happens — no special-case code.
    4. *Pruned commit*: one manifest commit of the merge output's files
       beside every live file of the untouched partitions; a touched
       partition left EMPTY (its only rows moved out or were deleted)
       has no live file left, and the cleaner removes its directory.

    Returns rows written into the touched partitions. A NULL partition
    value raises ``ValueError`` before anything is written, on the first
    write too.
    """
    return _upsert_partitioned(
        spark, batch, path, keys, precombine, partition_col,
        delete_col=delete_col, global_index=True,
    )


def retention_delete(
    spark,
    path: str,
    partition_col: str,
    keep_pred,
    cutoff_partition: str,
) -> tuple[list, int]:
    """TTL/retention enforcement on a hive-layout table — the two-tier
    delete a real retention job runs (Hudi's delete_partition +
    row-level delete composed by a partition-ordered policy):

    - partitions strictly BELOW ``cutoff_partition`` (string order —
      zero-padded date/month partition values sort chronologically) are
      dropped whole: metadata-scale, no data read;
    - the BOUNDARY partition (== cutoff_partition) is rewritten keeping
      only rows satisfying ``keep_pred`` (a Column) — the only data
      actually scanned, O(one partition) however large the table;
    - newer partitions are never touched (asserted by file mtimes in
      tests/test_tableops_retention.py).

    Both tiers are one manifest commit. Returns
    (dropped_partition_values, boundary_rows_deleted). Idempotent:
    re-running with the same cutoff drops nothing and rewrites an
    already-clean boundary to itself.
    """
    rec = table_record(path)
    files = _files_by_partition(spark, rec["files"], partition_col)
    expired = sorted(v for v in files if v < cutoff_partition)
    boundary = files.get(cutoff_partition, [])
    if not expired and not boundary:
        return [], 0
    gone = {f for v in [*expired, cutoff_partition] for f in files.get(v, [])}
    # Rows read come from the boundary files' footers, not a Spark job.
    n_read = sum(b["rows"] for b in file_column_bounds(path, [], files=boundary))
    staged = _read_files(spark, path, rec, boundary).filter(keep_pred) if boundary else None
    kept = [f for f in rec["files"] if f not in gone]
    _, n_kept = _commit_staged(
        path, staged, rec["version"] + 1, kept, partition_col=partition_col
    )
    return expired, n_read - n_kept


def export_symlink_manifest(path: str) -> str:
    """Export the table's live-file set as a SYMLINK-FORMAT manifest —
    the Hudi/Delta interop handoff (Hudi's symlink manifests, Delta's
    ``GENERATE symlink_format_manifest``) that lets engines which speak
    only "list of parquet files" (Presto/Athena/DuckDB-style external
    tables) read a snapshot-consistent view WITHOUT understanding the
    manifest/timeline protocol.

    Writes ``_symlink_manifest/manifest`` under the table path: one
    absolute file URI per line, exactly the files the latest committed
    manifest references — orphaned pre-crash files and files removed by
    compaction/clean are absent, so the external engine can never read
    a torn commit. Metadata-only (no data scanned); rerun after commits
    like any table service. The write is tmp-then-rename so a
    concurrent external reader sees the old manifest or the new one,
    never a partial line. Returns the manifest file path."""
    live = table_record(path)["files"]
    if not live:
        raise FileNotFoundError(f"no data files at {path!r}")
    out_dir = os.path.join(path, "_symlink_manifest")
    os.makedirs(out_dir, exist_ok=True)
    target = os.path.join(out_dir, "manifest")
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        for name in sorted(live):
            f.write("file://" + os.path.abspath(os.path.join(path, name)) + "\n")
    os.replace(tmp, target)
    return target


def read_via_symlink_manifest(spark, manifest_file: str):
    """Read a table THROUGH its symlink manifest — exactly what an
    external engine does: take the file list at face value, scan those
    parquet files, know nothing of manifests or timelines."""
    with open(manifest_file) as f:
        uris = [line.strip() for line in f if line.strip()]
    return spark.read.parquet(*[u.removeprefix("file://") for u in uris])


# --------------------------------------------------------------------------
# Deletion vectors (Delta DV / Iceberg position-delete shape): a delete
# writes per-file ROW POSITIONS into a sidecar instead of rewriting the
# data files — O(deleted rows) write cost, zero data-file churn, and
# the files stay byte-identical for readers that predate the delete.
# Positions come from parquet's native `_metadata.row_index` (stable
# per file), so no surrogate key is needed.
#
# Sidecar layout: one directory per generation, PARTITIONED BY the data
# file's decoded base name (`v{N}/__fname=<basename>/…`). Basenames,
# not absolute URIs, so relocating/renaming the table directory keeps
# every DV valid (data files are all top-level, so basenames are
# unique). The per-file partitioning is what makes the large-DV read
# path file-LOCAL (below).
#
# Read = scan minus the union of generations, two strategies:
#   * sidecar ≤ 64 MB on disk (sparse deletes — the common case): one
#     BROADCAST left-anti join on (basename, position). Pure JVM.
#   * larger sidecars: the Delta/Iceberg answer — apply each file's DV
#     scan-side, file-locally. `mapInPandas` over the scan (map-only,
#     NO exchange: the table never repartitions); each task lazily
#     loads ONLY the position sets of the files it is actually
#     scanning, straight from the per-file sidecar partitions. Memory
#     per task = deletes in that task's files; a 1%-deleted 100 TB
#     table reads with zero shuffle. (Tradeoff vs Delta: rows cross
#     Arrow into Python on this path — a pipelined, spill-free cost,
#     unlike the full-table shuffle it replaces.)
#
# Sidecar discovery/swap uses local-FS listing here — the same caveat
# class as the versioned-manifest writers in operators/merge.py: on an
# object store the listing goes through the Hadoop FS API and the swap
# becomes a fresh single-PUT generation key; the read/delete plans are
# unchanged. To keep that failure mode LOUD rather than silently
# resurrecting deleted rows, every entry point rejects non-local URIs.
# --------------------------------------------------------------------------

_DV_DIR = "_dv"
_DV_BROADCAST_BYTES = 64 << 20


def _require_local_path(path: str) -> None:
    """The DV sidecar is discovered with os.listdir; on s3://... that
    check silently finds nothing and deleted rows would come back as
    live data. Fail loudly instead (ADVICE r9)."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"deletion vectors support local paths only, got scheme {scheme!r}; "
            "wire sidecar discovery through the Hadoop FS API for object stores"
        )


def _fname_col():
    """Decoded base file name from `_metadata.file_path`. The scan
    reports a percent-ENCODED URI (verified: a path with a space reads
    back as ``file:/...%20.../part-x.parquet``), hence url_decode; the
    basename itself is always Spark-generated (``part-*.parquet`` /
    ``part-upsert-*.parquet``: alphanumerics, dashes, dots), so decode
    quirks on '+'/'%' can't arise and the decoded value matches
    os.listdir names exactly."""
    return F.url_decode(F.element_at(F.split(F.col("__file"), "/"), -1))


def _with_position(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )


def _dv_generations(dv_root: str) -> list[str]:
    return sorted(
        (d for d in os.listdir(dv_root) if d.startswith("v") and d[1:].isdigit()),
        key=lambda d: int(d[1:]),
    )


def _read_dv_union(spark, dv_root: str) -> DataFrame:
    """Union of all generations as (__fname, __dp). Generations are read
    one by one (each is partitioned by __fname; a glob across them would
    trip partition discovery on the vN level)."""
    from functools import reduce

    gens = [
        spark.read.parquet(os.path.join(dv_root, d)).select("__fname", "__dp")
        for d in _dv_generations(dv_root)
    ]
    return reduce(DataFrame.unionByName, gens)


def delete_with_vectors(spark, path: str, predicate) -> int:
    """Append one DV generation marking rows matching ``predicate``
    (a Column over the table's schema) as deleted. Rows already dead in
    a prior generation are not re-marked (the reader unions generations,
    so re-marking would be harmless but inflates the sidecar). Returns
    the number of newly deleted positions."""
    _require_local_path(path)
    live = read_with_deletion_vectors(spark, path, _keep_position=True)
    # one scan: materialize the (fname, pos) relation before the
    # count + write pair — recomputing the lineage would re-run the
    # full table scan + anti join twice per delete
    dv = (
        live.filter(predicate)
        .select("__fname", F.col("__pos").alias("__dp"))
        .localCheckpoint(eager=True)
    )
    n = dv.count()
    if n:
        dv_root = os.path.join(path, _DV_DIR)
        # next generation = max existing vN + 1, NOT the entry count —
        # a removed/stray entry must never make a new write silently
        # overwrite a live generation (ADVICE r9)
        gen = 0
        if os.path.isdir(dv_root):
            nums = [int(d[1:]) for d in _dv_generations(dv_root)]
            gen = max(nums) + 1 if nums else 0
        dv.write.mode("overwrite").partitionBy("__fname").parquet(
            os.path.join(dv_root, f"v{gen}")
        )
    return n


def _sidecar_bytes(dv_root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(dv_root)
        for f in fs
    )


def dv_read_route(dv_root: str) -> str:
    """The routing decision the DV read path makes for this sidecar —
    'broadcast' (anti join against the broadcast (file, pos) relation)
    at-or-under the gate, 'file-local' (per-file positions applied
    inside the scan) over it. The single source of truth for the gate:
    read_with_deletion_vectors and the scale probe both call this, so
    published measurements can never be attributed to the wrong path."""
    return (
        "broadcast"
        if _sidecar_bytes(dv_root) <= _DV_BROADCAST_BYTES
        else "file-local"
    )


def _apply_dv_file_local(base: DataFrame, dv_root: str) -> DataFrame:
    """Large-sidecar path: subtract each file's positions file-locally
    inside the scan — map-only, the table never repartitions. Each task
    reads only the sidecar partitions of the files it scans (lazy,
    cached per task)."""
    import glob as _glob

    schema = base.schema

    def drop_deleted(batches):
        import numpy as np
        import pyarrow.parquet as pq

        cache: dict[str, object] = {}
        for pdf in batches:
            fnames = pdf["__fname"].values
            mask = np.ones(len(pdf), dtype=bool)
            for fn in dict.fromkeys(fnames):  # distinct, order-stable
                if fn not in cache:
                    parts = _glob.glob(
                        os.path.join(dv_root, "v*", f"__fname={fn}", "*.parquet")
                    )
                    if parts:
                        dead = np.concatenate(
                            [
                                pq.read_table(p, columns=["__dp"])
                                .column("__dp")
                                .to_numpy()
                                for p in parts
                            ]
                        )
                        cache[fn] = np.unique(dead)
                    else:
                        cache[fn] = None
                dead = cache[fn]
                if dead is not None:
                    sel = fnames == fn
                    mask[sel] &= ~np.isin(pdf["__pos"].values[sel], dead)
            out = pdf[mask]
            if len(out):
                yield out

    return base.mapInPandas(drop_deleted, schema)


def read_with_deletion_vectors(
    spark, path: str, *, _keep_position: bool = False
) -> DataFrame:
    """Scan minus the union of all DV generations. Sparse sidecars
    (≤ 64 MB on disk — the common case) subtract via one broadcast
    left-anti join on (basename, position); larger sidecars apply
    file-locally inside the scan (see module comment) — NEVER a
    full-table shuffle: at the design point (1% scattered deletes on a
    ~1T-row table ⇒ multi-GB DV) a shuffled anti join would
    repartition the whole table once per read."""
    _require_local_path(path)
    base = _with_position(spark, path).withColumn("__fname", _fname_col())
    dv_root = os.path.join(path, _DV_DIR)
    out = base
    if os.path.isdir(dv_root) and _dv_generations(dv_root):
        if dv_read_route(dv_root) == "broadcast":
            dv = _read_dv_union(spark, dv_root).select(
                F.col("__fname").alias("__df"), "__dp"
            )
            out = base.join(
                F.broadcast(dv),
                (F.col("__fname") == F.col("__df"))
                & (F.col("__pos") == F.col("__dp")),
                "left_anti",
            )
        else:
            out = _apply_dv_file_local(base, dv_root)
    return out if _keep_position else out.drop("__file", "__pos", "__fname")


def compact_deletion_vectors(
    spark, path: str, *, min_deleted_fraction: float = 0.2
) -> tuple[int, int]:
    """DV-aware selective compaction (the Delta/Iceberg rewrite policy):
    rewrite ONLY files whose deleted fraction exceeds the threshold —
    their survivors land as fresh files and their DV entries drop;
    lightly-deleted files keep their bytes AND their DV entries. Returns
    (files_rewritten, files_remaining). At 100 TB this is the whole
    point of deletion vectors: compaction cost tracks the DELETED
    density, not the table size — a table with 1% scattered deletes
    rewrites nothing.

    Per-file row totals come from one `_metadata.file_path` aggregate
    over the scan (row-count-only: column pruning makes it near
    footer-cost); deleted counts from the DV union. Both are O(files)
    relations.

    The data-file swap is one manifest commit
    (:func:`.merge._commit_staged`): the dense files' survivors are
    staged, the live files minus the dense ones are kept, and the
    post-commit cleaner removes the dense originals, so a manifest read
    (:func:`.merge.read_indexed_table`) and the listing read agree. The
    sidecar swaps after it (:func:`_swap_dv_sidecar`); until then the
    old sidecar's dense-file entries name files that are gone, which the
    anti join ignores."""
    _require_local_path(path)

    def _n_parquet() -> int:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    dv_root = os.path.join(path, _DV_DIR)
    if not (os.path.isdir(dv_root) and _dv_generations(dv_root)):
        return (0, _n_parquet())
    base = _with_position(spark, path).withColumn("__fname", _fname_col())
    totals = base.groupBy("__fname").agg(F.count(F.lit(1)).alias("n_rows"))
    dv = _read_dv_union(spark, dv_root)
    dead = dv.groupBy("__fname").agg(F.count(F.lit(1)).alias("n_dead"))
    dense_names = {
        r["__fname"]
        for r in totals.join(dead, "__fname")
        .filter(F.col("n_dead") >= F.col("n_rows") * F.lit(min_deleted_fraction))
        .collect()  # O(files with deletes) — a planning-scale relation
    }
    if not dense_names:
        return (0, _n_parquet())
    survivors = read_with_deletion_vectors(spark, path, _keep_position=True).filter(
        F.col("__fname").isin(*dense_names)
    ).drop("__file", "__pos", "__fname")
    rec = table_record(path)
    kept = [f for f in rec["files"] if f not in dense_names]
    _commit_staged(path, survivors, rec["version"] + 1, kept)
    _swap_dv_sidecar(path, dv.filter(~F.col("__fname").isin(*dense_names)))
    return (len(dense_names), _n_parquet())


def _swap_dv_sidecar(path: str, kept_dv: DataFrame) -> None:
    """Replace the table's ``_dv`` sidecar by ``kept_dv`` as its one
    generation ``v0`` (no sidecar when it is empty). The kept entries
    are staged first, beside the table (never a driver collect — the
    kept DV is O(deleted rows), not planning-scale), so the old sidecar
    stays whole until the renames."""
    import shutil

    dv_root = os.path.join(path, _DV_DIR)
    dv_staging = path + ".dvkeep"
    kept_dv_rows = kept_dv.count()
    if kept_dv_rows:
        kept_dv.write.mode("overwrite").partitionBy("__fname").parquet(dv_staging)
    old_root = dv_root + ".old"
    os.rename(dv_root, old_root)
    if kept_dv_rows:
        os.makedirs(dv_root, exist_ok=True)
        os.rename(dv_staging, os.path.join(dv_root, "v0"))
    shutil.rmtree(old_root, ignore_errors=True)
