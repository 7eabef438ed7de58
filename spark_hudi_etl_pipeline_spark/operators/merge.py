"""Keyed upsert with precombine — the reference's one non-built-in
semantic (SURVEY.md §1.4; pipeline_architecture.py:179-194, :241-256,
DDL :92-96).

Semantics reproduced exactly:

1. **Record key** identifies a row (single or composite).
2. **Upsert**: incoming batch merges into the table by key — insert if
   absent, overwrite if present.
3. **Precombine**: on key collision (within the batch or batch-vs-table)
   the row with the larger precombine value wins ("latest wins").
   The reference relies on Hudi's ``preCombineField``; here it is a
   window dedup + anti-join merge, pure Catalyst.
4. **Non-partitioned keys**: keys are global (reference :57, :186).

Hudi passthrough: when the Hudi spark bundle is on the classpath the
table can be written with ``format("hudi")`` and these exact options
(:func:`hudi_writer_options`); the pure-Spark path below is the primary
correctness path in this environment (SURVEY.md §7 risk register).

Scale design (100 TB table, small incremental batch):
- The batch-side window dedup shuffles only the batch (small).
- The merge join is an outer join table⋈batch on the key. With the table
  bucketed/clustered by key (how you'd lay out a 100 TB keyed table),
  Catalyst plans a broadcast join of the batch against bucketed scans —
  no table-side shuffle.
- Every keyed upsert sink here commits the same way: stage the merged
  files, move them in, publish one manifest (:func:`_commit_staged`).
  Readers see the old table or the new one, never a mix. The sinks
  differ only in which live files they treat as affected:
  :func:`upsert_parquet` rewrites all of them (correct but O(table)),
  the range-, bloom- and record-indexed writers only those whose index
  says they may hold a batch key (what Hudi's index does).
  ``merge_upsert`` is also exposed as a pure DataFrame transform, so the
  sink choice is orthogonal.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..session import local_frame

PRECOMBINE_TIEBREAK = "__precombine_rn"


def precombine_batch(
    batch: DataFrame, keys: list[str], precombine: str
) -> DataFrame:
    """Collapse the batch to one row per key, keeping the row with the
    largest ``precombine`` value (Hudi preCombineField semantics,
    reference :95/:115). Deterministic under ties: arbitrary-but-stable
    via a monotonic tiebreak on all columns is avoided on purpose —
    Hudi's own tie behavior is unspecified; we keep the first by file
    order like Hudi's default payload.

    Hot-key batches need no salting (SCALE.md §hot-key upsert probe):
    Spark 4 plans the ``rank<=1`` filter as ``WindowGroupLimit``
    Partial/Final, a map-side top-1-per-key reduction BEFORE the
    shuffle, so a hot key arrives at its reducer already collapsed to
    ~one row per upstream task (pinned by
    ``tests/test_merge.py::test_flat_precombine_plans_window_group_limit``).
    """
    w = Window.partitionBy(*keys).orderBy(F.desc(precombine))
    return (
        batch.withColumn(PRECOMBINE_TIEBREAK, F.row_number().over(w))
        .filter(F.col(PRECOMBINE_TIEBREAK) == 1)
        .drop(PRECOMBINE_TIEBREAK)
    )


def align_schemas(
    existing: DataFrame, batch: DataFrame, *, skip: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for the upsert path (the reference enables Hudi's
    ``hoodie.schema.on.read.enable`` at pipeline_architecture.py:54;
    README claims schema-evolution support at README.md:308).

    Returns both frames projected onto the UNION schema: columns the
    batch adds are appended (existing rows read them as NULL), columns
    the batch omits become NULL in the batch rows (whole-row upsert
    replace semantics), and a column present on both sides is cast to
    the table's type (no surprise type flips). Map-only — no shuffle.
    ``skip`` columns (the delete flag) stay batch-only."""
    etypes = {f.name: f.dataType for f in existing.schema.fields}
    btypes = {f.name: f.dataType for f in batch.schema.fields}
    new_cols = [c for c in batch.columns if c not in etypes and c not in skip]
    union_cols = existing.columns + new_cols
    existing2 = existing.select(
        *existing.columns,
        *[F.lit(None).cast(btypes[c]).alias(c) for c in new_cols],
    )
    batch2 = batch.select(
        *[
            (
                F.col(c).cast(etypes.get(c, btypes.get(c)))
                if c in btypes
                else F.lit(None).cast(etypes[c])
            ).alias(c)
            for c in union_cols
        ],
        *[F.col(c) for c in skip if c in batch.columns],
    )
    return existing2, batch2


def merge_upsert(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    precombine: str,
    *,
    delete_col: str | None = None,
    evolve_schema: bool = False,
    partial_update: bool = False,
) -> DataFrame:
    """Pure-DataFrame upsert: returns the post-merge table contents.

    ``existing=None`` models first write. Batch rows always beat existing
    rows with equal precombine values (Hudi upsert overwrite semantics —
    an update with the same precombine still wins).

    ``delete_col`` names a boolean batch column with Hudi's
    ``_hoodie_is_deleted`` semantics: a batch row whose flag is true is a
    *delete record* — it competes by precombine like any other row, and if
    it wins the key is removed from the table (a stale delete loses to a
    newer existing row and is ignored). The flag column never lands in
    the output.

    ``evolve_schema=True`` reproduces Hudi's schema-on-read evolution
    (:func:`align_schemas`): batches may add or omit non-key columns;
    without it, a batch must match the table schema exactly.

    ``partial_update=True`` is Hudi's ``PartialUpdateAvroPayload``
    (partial-column upsert): a WINNING batch row's NULL non-key fields
    keep the existing row's values instead of nulling them — the
    sparse-update pattern where each source system owns a column subset.
    The fill is one extra join of the (small) winning-batch rows against
    the table slice holding their keys — semi-join pruned, the table is
    never shuffled. Within a batch, precombine still picks ONE row per
    key first (field-level in-batch combining is not Hudi's default
    either). A NULL written on purpose is indistinguishable from
    "absent" — the payload's documented semantic; use a sentinel or
    schema evolution to genuinely null a field.
    """
    # Key/precombine columns are the record identity — a batch without
    # them cannot be upserted. Hudi rejects key-less records loudly;
    # silently letting align_schemas NULL-fill them would collapse every
    # batch row into one NULL-key group (data corruption), so fail first.
    required = [c for c in [*keys, precombine] if c not in batch.columns]
    if required:
        raise ValueError(
            f"batch is missing key/precombine column(s) {required}; "
            "schema evolution applies only to non-identity columns"
        )
    if delete_col is not None and delete_col in (existing.columns if existing is not None else []):
        raise ValueError(f"delete flag {delete_col!r} must not exist in the table")
    if evolve_schema and existing is not None:
        existing, batch = align_schemas(
            existing, batch, skip=(delete_col,) if delete_col else ()
        )
    deduped = precombine_batch(batch, keys, precombine)
    if existing is None:
        if delete_col is not None:
            deduped = deduped.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        return deduped
    batch_cols = existing.columns + ([delete_col] if delete_col is not None else [])
    deduped = deduped.select(*batch_cols)  # align column order
    # deduped feeds four consumers (b_prec, existing_keep's broadcast,
    # beaten_keys, batch_keep) — lazily that replays the window-dedup
    # subtree per consumer (observed: 18 Window nodes in the plan).
    # The batch is the small side by contract, so materialize it once.
    deduped = deduped.localCheckpoint(eager=True)
    # Both sides are unique per key here (batch via precombine_batch,
    # table by upsert invariant), so one left join per side annotates each
    # row with the other side's precombine value. The batch side is the
    # small one → Catalyst broadcasts it against the (bucketed, at scale)
    # table scan; no table-side shuffle.
    b_prec = deduped.select(*keys, F.col(precombine).alias("__b_prec"))
    existing_keep = (
        existing.join(F.broadcast(b_prec), on=keys, how="left")
        .filter(F.col("__b_prec").isNull() | (F.col(precombine) > F.col("__b_prec")))
        .drop("__b_prec")
    )
    # Batch rows lose only to a strictly-newer existing row. beaten_keys
    # is computed table-side with the same broadcast (so the big table is
    # never shuffled) and is itself ⊆ batch keys → small → broadcast back.
    beaten_keys = (
        existing.join(F.broadcast(b_prec), on=keys, how="inner")
        .filter(F.col(precombine) > F.col("__b_prec"))
        .select(*keys)
    )
    batch_keep = deduped.join(F.broadcast(beaten_keys), on=keys, how="left_anti")
    if partial_update:
        non_keys = [
            c for c in existing.columns if c not in keys and c != precombine
        ]
        # Old values for exactly the winning batch keys: the semi join
        # prunes the table scan to those keys (broadcast batch side — the
        # table is never shuffled); the fill join then runs small × small.
        old_vals = existing.join(
            F.broadcast(batch_keep.select(*keys)), on=keys, how="left_semi"
        ).select(*keys, *[F.col(c).alias(f"__old_{c}") for c in non_keys])
        batch_keep = (
            batch_keep.join(F.broadcast(old_vals), on=keys, how="left")
            .select(
                *keys,
                F.col(precombine),
                *[
                    F.coalesce(F.col(c), F.col(f"__old_{c}")).alias(c)
                    for c in non_keys
                ],
                *([F.col(delete_col)] if delete_col is not None else []),
            )
            .select(*batch_cols)  # restore the table's column order
        )
    if delete_col is not None:
        # Winning delete records remove their key: the existing row is
        # already excluded above (batch won), and the delete record itself
        # must not land in the table.
        batch_keep = batch_keep.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return existing_keep.unionByName(batch_keep)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: dict[str, str] | bool = True,
    when_not_matched_by_source_update: dict[str, str] | None = None,
    when_not_matched_by_source_delete: str | None = None,
) -> DataFrame:
    """ANSI ``MERGE INTO`` semantics as a pure DataFrame transform (the
    SQL surface Hudi/Delta expose over their upsert machinery; Hudi
    supports it from Spark SQL — reference users writing MERGE INTO on
    their tables get this exact behavior):

    - matched + ``when_matched_delete`` condition true → row removed;
    - matched otherwise → ``when_matched_update`` SET expressions applied
      (each value is a SQL expression over aliases ``t`` (target row)
      and ``s`` (source row)); None keeps the target row unchanged;
    - source rows matching no target → inserted; ``True`` inserts the
      source's values for the target's columns, a dict gives per-column
      expressions over ``s``, ``False`` drops them;
    - target rows matching no source (Spark 3.4+ / Delta ``WHEN NOT
      MATCHED BY SOURCE``, the full-sync form): with
      ``when_not_matched_by_source_delete`` (a condition over ``t``;
      ``'true'`` = unconditional) they are removed — the dimension-sync
      delete — and with ``when_not_matched_by_source_update`` their SET
      expressions apply (delete wins when both are given and the delete
      condition holds); with neither, they pass through unchanged.

    Cardinality rule enforced like Delta/Hudi: a target row matched by
    MORE THAN ONE source row is a runtime error (``raise_error`` inside
    the plan — fails on execution, not silently nondeterministic).

    One full-outer join on the merge keys — with the source small (the
    normal MERGE shape) Catalyst broadcasts it and the target never
    shuffles; both-sides-big degrades to one SMJ shuffle each, the same
    cost Hudi pays. Delete/update conditions are plain expressions, so
    pushdown/codegen apply.
    """
    from pyspark.sql import Window

    t_cols = target.columns
    dup_w = Window.partitionBy(*on)
    src = (
        source.withColumn("__src_n", F.count(F.lit(1)).over(dup_w))
        .withColumn("__src", F.lit(True))
    )
    joined = (
        target.alias("t")
        .withColumn("__tgt", F.lit(True))
        .join(src.alias("s"), on=on, how="full_outer")
    )
    matched = F.col("__tgt").isNotNull() & F.col("__src").isNotNull()
    # Cardinality violation: raises at execution time (the MERGE
    # contract: nondeterministic multi-match must fail loudly, not pick
    # a winner). assert_true yields NULL when the predicate holds;
    # folded into the row filter so it is evaluated for every row.
    no_multi = F.coalesce(
        F.assert_true(
            ~(matched & (F.col("__src_n") > 1)),
            F.lit("MERGE INTO: a target row is matched by multiple source rows"),
        ).cast("boolean"),
        F.lit(True),
    )

    def tcol(c: str) -> Column:
        return F.col(c) if c in on else F.col(f"t.{c}")

    nmbs_del_cond = (
        F.expr(when_not_matched_by_source_delete)
        if when_not_matched_by_source_delete is not None
        else F.lit(False)
    )
    nmbs_update_exprs = {
        c: F.expr(e) for c, e in (when_not_matched_by_source_update or {}).items()
    }

    delete_cond = (
        F.expr(when_matched_delete) if when_matched_delete is not None else F.lit(False)
    )
    update_exprs = {
        c: F.expr(e) for c, e in (when_matched_update or {}).items()
    }
    out_cols = []
    for c in t_cols:
        upd = update_exprs.get(c, tcol(c))
        if c in on:
            # Key columns always come from the (coalesced) join key —
            # an insert row's identity IS its source key.
            ins = F.col(c)
        elif when_not_matched_insert is False:
            ins = F.lit(None)
        elif when_not_matched_insert is True:
            ins = F.col(f"s.{c}")
        else:
            ins = (
                F.expr(when_not_matched_insert[c])
                if c in when_not_matched_insert
                else F.lit(None)
            )
        out_cols.append(
            F.when(matched, upd)
            .when(F.col("__tgt").isNotNull(), nmbs_update_exprs.get(c, tcol(c)))
            .otherwise(ins)
            .alias(c)
        )
    # ANSI MERGE / Delta semantics: a NULL delete condition is
    # NOT-satisfied (the update arm applies), so coalesce to False —
    # a bare ~NULL filter would silently drop the row instead.
    keep = (
        F.when(matched, ~F.coalesce(delete_cond, F.lit(False)))
        # unmatched target: NOT MATCHED BY SOURCE delete (NULL condition
        # = not satisfied, same rule as the matched delete arm)
        .when(
            F.col("__tgt").isNotNull(),
            ~F.coalesce(nmbs_del_cond, F.lit(False)),
        )
        .otherwise(F.lit(when_not_matched_insert is not False))
    )
    return joined.filter(keep & no_multi).select(*out_cols)


def upsert_parquet(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    delete_col: str | None = None,
    evolve_schema: bool = False,
) -> int:
    """Keyed upsert sink (reference R7 write_hudi_table, :238-260,
    re-expressed): merge ``batch`` into the parquet table at ``path``;
    returns rows written. A copy-on-write rewrite of every live file —
    O(table), no index pruning — committed like every keyed upsert here
    by one manifest publish (:func:`_commit_staged`), so a crash leaves
    readers of :func:`read_indexed_table` on the previous version. The
    rewrite is coalesced to ⌈bytes read ÷
    ``spark.sql.files.maxPartitionBytes``⌉ files, so repeated small
    upserts do not grow the table by a file each.

    ``evolve_schema=True`` = Hudi ``hoodie.schema.on.read.enable``
    passthrough semantics: the table schema widens to the batch's new
    columns (see :func:`align_schemas`).
    """
    return _indexed_upsert(
        spark, batch, path, keys, precombine,
        delete_col=delete_col, index=_ALL_FILES, evolve_schema=evolve_schema,
    ).rows_written


def _upsert_partitioned(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    partition_col: str,
    *,
    delete_col: str | None,
    global_index: bool,
) -> int:
    """Shared body of the two partitioned upsert sinks,
    :func:`upsert_parquet_partitioned` (``global_index=False``) and
    ``tableops.upsert_parquet_partitioned_global`` (``True``). They
    differ only in the merge key (``keys + [partition_col]`` or
    ``keys``) and in the partitions they touch: the batch's own, plus,
    with the global index, those currently holding a batch key.

    Unlike the flat keyed sinks, these are not manifest-committed: the
    dynamic overwrite replaces each touched partition directory in
    place, so a crash during it can leave a partition partly written."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    merge_keys = keys if global_index else keys + [partition_col]
    table = None  # first write
    if os.path.isdir(path):  # reading an absent path logs a stack trace
        try:
            table = spark.read.parquet(path)
        except AnalysisException:  # deletes emptied every partition
            pass
    # ONE planning job (r14, guide §1.4) for both touched-partition
    # sets: the batch's distinct target partitions and, with the global
    # index, the index lookup (column-pruned (keys, partition) table
    # scan semi-joined against the broadcast batch keys). It runs before
    # any write, so a NULL partition value is rejected on the first
    # write exactly as on every later one (same contract as
    # insert_overwrite) and leaves no table behind.
    plan = batch.select(
        F.lit(1).alias("is_new"), F.col(partition_col).alias("p")
    ).distinct()
    if global_index and table is not None:
        plan = plan.unionByName(
            table.select(*keys, partition_col)
            .join(F.broadcast(batch.select(*keys).distinct()), on=keys, how="left_semi")
            .select(F.lit(0).alias("is_new"), F.col(partition_col).alias("p"))
            .distinct()
        )
    plan_rows = plan.collect()
    if any(r["is_new"] == 1 and r["p"] is None for r in plan_rows):
        raise ValueError(
            f"null partition value in batch column {partition_col!r} — "
            "Hudi-style partition paths require a non-null partition key"
        )
    touched = set()
    if table is not None:
        touched = {r["p"] for r in plan_rows}
        table = table.filter(F.col(partition_col).isin(sorted(touched)))
    merged = merge_upsert(
        table, batch, merge_keys, precombine, delete_col=delete_col
    )
    if table is not None:
        # The commit overwrites files the merge read — materialize first.
        merged = merged.localCheckpoint(eager=True)
    # Ride the row count AND the surviving-partition set on the commit
    # write itself (r14, guide §1.4): a trailing distinct-collect +
    # count() would be two more jobs for numbers the write already sees.
    obs = Observation()
    observed = merged.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.collect_set(partition_col).alias("parts"),
    )
    # Dynamic overwrite replaces only the partitions this write has rows
    # for. It is set per write, so other queries on the shared session
    # keep their own overwrite mode.
    observed.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(path)
    # Partitions emptied by moves/deletes produce no output rows, so the
    # dynamic overwrite never visits them — drop them as the commit step
    # (Hudi records this tombstone in the timeline).
    for value in touched - set(obs.get["parts"]):
        shutil.rmtree(f"{path}/{partition_col}={value}", ignore_errors=True)
    return int(obs.get["n"])


def upsert_parquet_partitioned(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    partition_col: str,
    *,
    delete_col: str | None = None,
) -> int:
    """Partition-pruned upsert sink: merge ``batch`` into a hive-layout
    parquet table partitioned by ``partition_col``, touching ONLY the
    partitions the batch lands in. This is the scale path the reference
    delegates to Hudi's partitioned COW writer + index
    (pipeline_architecture.py:183-192 — ``hoodie.datasource.write``
    upsert on a keyed table): a 100 TB table with a 1 GB incremental
    batch reads and rewrites O(batch partitions), never O(table).

    Semantics follow Hudi's default **non-global** index
    (``hoodie.index.type=SIMPLE/BLOOM``): record keys are unique *within*
    a partition, so the merge key is ``keys + [partition_col]`` and a
    batch row whose key exists in a different partition inserts rather
    than moves (the global-index variant is
    ``tableops.upsert_parquet_partitioned_global``).

    Execution shape, in order:

    1. *Index lookup*: the batch's distinct partition values — a
       driver-side list bounded by the number of touched partitions
       (what Hudi reads from its index), not by batch rows. A NULL
       partition value raises ``ValueError`` before anything is
       written, on the first write too.
    2. *Pruned read*: the existing table filtered with
       ``partition_col IN (touched)`` — Catalyst turns this into
       ``PartitionFilters``, so untouched partitions are never scanned.
    3. :func:`merge_upsert` of the pruned slice against the batch.
    4. *Pruned commit*: ``partitionOverwriteMode=dynamic`` overwrite —
       only partitions present in the merge output are replaced; a
       touched partition emptied by delete records is dropped explicitly
       (dynamic overwrite leaves absent partitions alone — that is the
       point — so the empty case is the one manual commit step).

    Returns rows written into the touched partitions.
    """
    return _upsert_partitioned(
        spark, batch, path, keys, precombine, partition_col,
        delete_col=delete_col, global_index=False,
    )


# ---------------------------------------------------------------------------
# Manifest commit protocol (shared by every flat keyed upsert sink —
# upsert_parquet, the range-, bloom- and record-indexed writers and
# operators/wap.py — and by the clustering service):
# the commit point is publishing manifest version N+1 — a
# single new immutable object — never a directory mutation.
#
#   write new data files (unique names; invisible until referenced)
#     → publish _manifest/vN+1.json        ← THE atomic commit point
#     → best-effort clean of replaced files (post-commit, a cleaner's job)
#
# Each manifest record is ``{"version", "files"}``; a commit through
# :func:`_commit_staged` also records the staged ``schema`` (readers
# pass it to ``spark.read.schema`` instead of inferring it from a
# footer, which costs a Spark job) and the caller's ``meta`` (small
# driver-side state carried from commit to commit, as Hudi keeps the
# writer schema and the source checkpoint in a commit's extra metadata:
# the audit log's watermark, for one). A record without them (a
# pre-manifest listing, a record published directly) reads with an
# inferred schema and no metadata.
#
# Readers resolve the live file set from the LATEST manifest, so a crash
# at any point leaves them on version N (old complete state) or N+1 (new
# complete state) — never a torn mix. On POSIX the publish is an atomic
# rename; on an object store each manifest version is a fresh single-PUT
# key (rename-free), which is exactly Hudi's .hoodie instant-file commit
# and Delta's _delta_log JSON protocol. Pre-manifest tables (plain
# directories) fall back to the directory listing and are migrated on
# their first manifest commit, which pins that listing (empty for a new
# path) as a v0 guard before moving files in and drops the guard once
# its own version is published.
# ---------------------------------------------------------------------------

_MANIFEST_DIR = "_manifest"  # underscore prefix: invisible to table scans


class ConcurrentCommitError(RuntimeError):
    """Another writer published the manifest version this commit was
    about to claim (optimistic concurrency, Hudi
    ``hoodie.write.concurrency.mode=optimistic_concurrency_control``):
    the caller must re-read the latest manifest and retry the whole
    merge against it — its file-affectedness decisions were computed
    from a stale table version."""


def _json_versions(vdir: str) -> list[int]:
    """Sorted versions ``N`` of the committed ``vN.json`` records in
    ``vdir`` (empty when it does not exist) — the version listing of
    both the per-table manifests and the ``operators/txn.py`` catalogs.
    In-flight ``.vN-*.tmp`` files are not committed records."""
    import os

    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _publish_json(vdir: str, version: int, rec: dict, conflict: str) -> None:
    """Atomically publish ``rec`` as ``vdir/v{version}.json`` — the
    commit point of a manifest or catalog version: everything before it
    is invisible to readers, everything after it is cleanup.

    The publish is a CREATE-IF-ABSENT, not a blind rename: ``os.link``
    fails with EEXIST when another writer already claimed this version,
    which is exactly optimistic concurrency control — each version can
    be won by ONE writer, the loser gets :class:`ConcurrentCommitError`
    (message ``conflict``) and must retry from the new latest version
    (its analysis is stale). On an object store the same CAS is a
    conditional PUT (`If-None-Match: *`); Hudi's OCC takes a lock around
    its instant-file creation for stores without one."""
    import json
    import os
    import uuid

    os.makedirs(vdir, exist_ok=True)
    tmp = os.path.join(vdir, f".v{version}-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    try:
        os.link(tmp, os.path.join(vdir, f"v{version}.json"))
    except FileExistsError:
        raise ConcurrentCommitError(conflict) from None
    finally:
        os.unlink(tmp)


def _manifest_publish(
    path: str, files: list[str], version: int, extra: dict | None = None
) -> None:
    """CAS-publish manifest ``version`` referencing ``files``, with the
    ``extra`` record fields (``schema``, ``meta``: see the block above)
    (:func:`_publish_json`); a concurrent writer that already claimed
    ``version`` makes this raise :class:`ConcurrentCommitError`."""
    import os

    _publish_json(
        os.path.join(path, _MANIFEST_DIR),
        version,
        {**(extra or {}), "version": version, "files": sorted(files)},
        f"manifest v{version} at {path!r} was published by a "
        "concurrent writer; re-read the latest manifest and retry "
        "the merge",
    )


def manifest_record_at(path: str, version: int) -> dict:
    """The committed manifest record of ``version``: ``version``,
    ``files`` and, when the commit recorded them, ``schema`` and
    ``meta``. Metadata-scale: one small JSON read."""
    import json
    import os

    mf = os.path.join(path, _MANIFEST_DIR, f"v{version}.json")
    with open(mf) as fh:
        return json.load(fh)


def manifest_files_at(path: str, version: int) -> list[str]:
    """Live data files of a SPECIFIC committed manifest version — the
    read side of version pinning (catalog pins in ``operators/txn.py``,
    branch heads, time travel over manifests). Metadata-scale."""
    return manifest_record_at(path, version)["files"]


def table_record(path: str) -> dict:
    """The latest manifest record at ``path``, or ``{"version": 0,
    "files": <directory listing>}`` for pre-manifest tables."""
    import glob
    import os

    versions = _json_versions(os.path.join(path, _MANIFEST_DIR))
    if versions:
        return manifest_record_at(path, versions[-1])
    return {
        "version": 0,
        "files": sorted(
            os.path.basename(f) for f in glob.glob(os.path.join(path, "*.parquet"))
        ),
    }


def table_live_files(path: str) -> tuple[int, list[str]]:
    """(manifest version, live data files) — latest manifest when one
    exists, else (0, directory listing) for pre-manifest tables."""
    rec = table_record(path)
    return rec["version"], rec["files"]


def _read_files(spark, path: str, rec: dict, files: list[str]) -> DataFrame:
    """Scan ``files`` of the table at ``path`` with the schema that
    manifest record ``rec`` holds; a record without one (pre-manifest
    listings, records published outside :func:`_commit_staged`) leaves
    Spark to infer it from a footer, a one-task job."""
    import os

    from pyspark.sql.types import StructType

    reader = spark.read
    if "schema" in rec:
        reader = reader.schema(StructType.fromJson(rec["schema"]))
    return reader.parquet(*[os.path.join(path, f) for f in files])


def read_indexed_table(spark, path: str) -> DataFrame:
    """Manifest-consistent read of an indexed COW table: only files the
    latest committed manifest references are scanned, so readers never
    observe a torn commit (orphaned pre-crash files are invisible)."""
    rec = table_record(path)
    return _read_files(spark, path, rec, rec["files"])


def _commit_staged(
    path: str, staged: DataFrame, version: int, kept: list[str],
    *, clean: bool = True,
    before_publish: Callable[[list[str]], None] | None = None,
    meta: dict | None = None,
) -> tuple[list[str], int]:
    """The one commit of every keyed upsert sink and of the audit-log
    appends: write ``staged`` to a staging directory under the table
    (rows counted by an Observation on that write job — the write
    doubles as materialization of a merge that reads the files it
    replaces), move the part files in under unique names (pre-commit —
    invisible until referenced), run ``before_publish`` on the candidate
    live set (the WAP audit hook), publish manifest ``version`` over
    ``kept`` + the new files with ``staged``'s schema and the caller's
    ``meta`` (THE commit point), then best-effort-clean the files of
    version ``version - 1`` the new manifest no longer references. If
    anything before the publish, the hook or the publish itself raises,
    the moved files are removed and the error propagates: the table
    stays on its previous version. Returns (new file basenames, rows
    written)."""
    import glob
    import os
    import shutil
    import uuid

    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    moved = []
    guard = None
    try:
        try:
            obs = Observation()
            staged.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(staging)
            n_written = int(obs.get["n"])
            if not _json_versions(os.path.join(path, _MANIFEST_DIR)):
                # First commit: pin the pre-commit state (the listing,
                # empty for a new path) as v0 before anything moves in,
                # so a crash before the publish leaves the moved files
                # unreferenced for readers and vacuum_orphans.
                _manifest_publish(path, table_live_files(path)[1], 0)
                guard = os.path.join(path, _MANIFEST_DIR, "v0.json")
            for i, f in enumerate(sorted(glob.glob(f"{staging}/*.parquet"))):
                dest = os.path.join(
                    path, f"part-upsert-{uuid.uuid4().hex}-{i:05d}.parquet"
                )
                shutil.move(f, dest)
                moved.append(os.path.basename(dest))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        live = sorted(set(kept) | set(moved))
        if before_publish is not None:
            before_publish(live)
        record = {"schema": staged.schema.jsonValue()}
        if meta is not None:
            record["meta"] = meta
        _manifest_publish(path, live, version, record)  # ← commit point
    except BaseException:
        for f in moved:  # never referenced by a manifest
            try:
                os.remove(os.path.join(path, f))
            except OSError:
                pass
        _drop_guard(guard)  # the table stays as it was: no manifest
        raise
    # Post-commit cleaner (Hudi's hoodie.clean.automatic): the files this
    # commit replaced — listed by version - 1, not by this one — are
    # unreferenced now; removing them is best-effort hygiene, not
    # correctness — a crash here leaves orphans that every manifest-based
    # read ignores. O(commit), never a directory scan: another unlisted
    # file may be one a concurrent writer has moved in but not yet
    # published (crash orphans are vacuum_orphans' job).
    # clean=False preserves files referenced by OLDER manifest versions —
    # required when a catalog pins an earlier version (operators/txn.py);
    # those tables are reclaimed by the retention-aware orphan vacuum
    # instead.
    replaced: list[str] = []
    if clean:
        try:
            replaced = sorted(set(manifest_files_at(path, version - 1)) - set(live))
        except OSError:
            pass  # version - 1 retired meanwhile: leave it to the vacuum
    _drop_guard(guard)  # v{version} supersedes it; nothing pins v0
    for f in replaced:
        try:
            os.remove(os.path.join(path, f))
        except OSError:
            pass
    return moved, n_written


def _drop_guard(guard: str | None) -> None:
    """Remove the v0 guard manifest of a first commit, and the manifest
    directory with it when that leaves it empty."""
    import os

    if guard is None:
        return
    try:
        os.remove(guard)
        os.rmdir(os.path.dirname(guard))  # fails unless empty
    except OSError:
        pass


class IndexedUpsertResult(NamedTuple):
    """What an indexed upsert committed: row count plus THE manifest
    version this write published. Callers that pin versions (the
    multi-table catalog in ``operators/txn.py``) must use ``version``
    rather than re-reading the latest manifest — a concurrent publish
    landing between the upsert's commit and a re-read would be silently
    adopted otherwise."""

    rows_written: int
    version: int


class _SidecarIndex(NamedTuple):
    """A file index kept as a parquet relation in an underscore-prefixed
    sidecar directory of the table (invisible to table scans), with at
    least one row per data file. ``build(spark, path, key, files)``
    indexes ``files``; ``probe(index, batch, key)`` returns the names of
    the files that may hold one of the batch's keys."""

    dirname: str
    build: Callable[..., DataFrame]
    probe: Callable[[DataFrame, DataFrame, str], list[str]]


def _valid_sidecar(
    spark, path: str, live_files: list[str], dirname: str
) -> DataFrame | None:
    """The sidecar relation in ``dirname`` if present AND its file set
    equals the manifest's live set (metadata-scale check), else None. A
    crash between the manifest publish and the sidecar rewrite leaves a
    stale sidecar whose missing entries for new files would yield index
    FALSE NEGATIVES — a later upsert would skip those files and write
    duplicate keys; callers fall back to a cold rebuild over the
    manifest-listed files instead (orphaned pre-crash files ignored)."""
    import os

    sidecar = os.path.join(path, dirname)
    if not os.path.isdir(sidecar):
        return None
    candidate = spark.read.parquet(sidecar)
    sidecar_files = {
        r["file"] for r in candidate.select("file").distinct().collect()
    }
    return candidate if sidecar_files == set(live_files) else None


def _range_probe_files(
    spark, path: str, key: str, files: list[str], batch: DataFrame
) -> list[str]:
    """SIMPLE-index lookup: the ``files`` whose footer ``[min, max]``
    range of ``key`` holds a batch key. A broadcast range join of the
    file-bounds relation (tiny, footer-only reads) against the batch's
    distinct keys — only file NAMES reach the driver. A file with rows
    but no bounds (Spark writes no min/max for string values over
    ~4 KiB) may hold any key, so it is always affected."""
    from .clustering import file_column_bounds

    bounds = file_column_bounds(path, [key], files=files)
    unbounded = [b["file"] for b in bounds if b["rows"] and b[key][0] is None]
    ranged = [b for b in bounds if b[key][0] is not None]
    if not ranged:
        return unbounded
    key_type = batch.schema[key].dataType.simpleString()
    files_df = local_frame(
        spark,
        [(b["file"], b[key][0], b[key][1]) for b in ranged],
        f"file string, lo {key_type}, hi {key_type}",
    )
    return unbounded + [
        r["file"]
        for r in (
            batch.select(F.col(key).alias("__bk"))
            .distinct()
            .join(
                F.broadcast(files_df),
                (F.col("__bk") >= F.col("lo")) & (F.col("__bk") <= F.col("hi")),
            )
            .select("file")
            .distinct()
            .collect()
        )
    ]


#: ``index`` choices of :func:`_indexed_upsert` besides a sidecar kind.
_RANGE_INDEX = "range"  # parquet footer key ranges (Hudi SIMPLE)
_ALL_FILES = "all"  # no pruning: every live file is affected


def _coalesce_rewrite(
    spark, merged: DataFrame, path: str, files: list[str], batch: DataFrame
) -> DataFrame:
    """``merged`` coalesced to ⌈bytes the full rewrite reads ÷
    ``spark.sql.files.maxPartitionBytes``⌉ partitions: the ``files`` it
    replaces plus Catalyst's size estimate of the batch. Without it each
    small file is its own scan partition (``openCostInBytes``) and every
    commit adds a file. A batch of unknown size (estimate Long.MaxValue,
    e.g. an RDD-backed frame) leaves the partitioning as it is."""
    import os

    size = sum(os.path.getsize(os.path.join(path, f)) for f in files) + int(
        batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n = -(-size // spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    return merged.coalesce(n) if n < 2**31 else merged


def _indexed_upsert(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    delete_col: str | None,
    index: _SidecarIndex | str,
    clean: bool = True,
    base_version: int | None = None,
    evolve_schema: bool = False,
    before_publish: Callable[[list[str]], None] | None = None,
) -> IndexedUpsertResult:
    """Shared body of every flat keyed upsert sink: live (or
    ``base_version``) file set, affected-file lookup, merge against the
    affected files only, :func:`_commit_staged` (the first write too),
    then sidecar maintenance. ``index`` picks the affected files:
    :data:`_ALL_FILES` (all of them — :func:`upsert_parquet` and WAP),
    :data:`_RANGE_INDEX` (parquet footers, no sidecar) or a sidecar kind
    (bloom or record-level). The indexes look up ``keys[0]`` only, a
    sound superset for composite keys; the merge uses every key.
    ``evolve_schema`` rewrites every file, so only :data:`_ALL_FILES`
    takes it."""
    import os

    rec = table_record(path)
    version, live_files = rec["version"], rec["files"]
    if base_version is not None and base_version != version:
        rec = manifest_record_at(path, base_version)
        live_files = rec["files"]
        # The post-commit cleaner deletes what the version before the new
        # one lists and the new one does not; with a non-latest base that
        # is another branch head, whose files are still referenced. Never
        # clean on a branched write.
        clean = False
    rel = None
    if not live_files or index == _ALL_FILES:
        affected = live_files
    elif index == _RANGE_INDEX:
        affected = _range_probe_files(spark, path, keys[0], live_files, batch)
    else:
        rel = _valid_sidecar(spark, path, live_files, index.dirname)
        if rel is None:
            rel = index.build(spark, path, keys[0], live_files)  # cold (re)build
        # Materialize now (metadata-scale): the commit below deletes data
        # files and overwrites the sidecar this lazy plan reads from.
        rel = rel.localCheckpoint(eager=True)
        affected = index.probe(rel, batch, keys[0])
    existing_sub = _read_files(spark, path, rec, affected) if affected else None
    merged = merge_upsert(
        existing_sub, batch, keys, precombine,
        delete_col=delete_col, evolve_schema=evolve_schema,
    )
    if index == _ALL_FILES and affected:
        merged = _coalesce_rewrite(spark, merged, path, affected, batch)
    kept = [f for f in live_files if f not in set(affected)]
    moved, n_written = _commit_staged(
        path, merged, version + 1, kept,
        clean=clean, before_publish=before_publish,
    )
    if isinstance(index, _SidecarIndex):
        # Post-commit incremental index maintenance: drop replaced files'
        # rows, add the new files' rows — O(commit), never O(table). A
        # crash before this write is healed by the manifest-mismatch
        # cold rebuild.
        parts = [] if rel is None else [rel.filter(~F.col("file").isin(affected))]
        if moved:
            parts.append(index.build(spark, path, keys[0], moved))
        if parts:
            reduce(DataFrame.unionByName, parts).write.mode("overwrite").parquet(
                os.path.join(path, index.dirname)
            )
    return IndexedUpsertResult(n_written, version + 1)


def upsert_parquet_indexed(
    spark,
    batch: DataFrame,
    path: str,
    key: str,
    precombine: str,
    *,
    delete_col: str | None = None,
    clean: bool = True,
    base_version: int | None = None,
) -> IndexedUpsertResult:
    """File-level indexed upsert: merge ``batch`` into a flat (non-hive)
    parquet directory rewriting ONLY the files whose footer key range
    intersects a batch key — Hudi's indexed COW write
    (``hoodie.index.type=SIMPLE``: key-range pruning from file
    statistics; pipeline_architecture.py:183-192 relies on exactly this
    to make upserts O(affected files) on a non-partitioned keyed table,
    DDL :92-96).

    The index IS the parquet footers (min/max of ``key`` per file,
    footer-only reads); file affectedness is decided with a broadcast
    range join of the file-bounds relation (tiny) against the batch's
    distinct keys — the batch itself never reaches the driver. Files the
    batch cannot touch keep their bytes and mtimes. Inserts whose keys
    fall outside every file's range rewrite nothing — they land as one
    new file.

    Effectiveness tracks layout tightness: on a
    :func:`~..operators.clustering.cluster_linear`-by-key layout
    (disjoint ranges — how a keyed table should be clustered, and what
    Hudi clustering maintains) the rewrite is O(batch key span); on an
    unclustered layout every file may overlap and the write degrades to
    the full rewrite of :func:`upsert_parquet`, correctly.

    Commit protocol: the manifest publish is the atomic commit point
    (see the manifest-protocol block above) — object-store-safe by
    construction; readers via :func:`read_indexed_table` can never see a
    torn mix of old and new files.

    Single-column key (the range index is one-dimensional); returns
    :class:`IndexedUpsertResult` — (rows written, THE manifest version
    this call published). Version-pinning callers must use that version,
    never a post-hoc re-read of the latest manifest.

    ``base_version`` merges against THAT committed manifest version's
    file set instead of the latest (still publishing at latest+1 — the
    version sequence is pure allocation; lineage lives in whoever pins
    the result, e.g. a catalog branch head in ``operators/txn.py``).
    This is what lets two branches write the same table without seeing
    each other: each merges from its own pinned snapshot.
    """
    return _indexed_upsert(
        spark, batch, path, [key], precombine,
        delete_col=delete_col, index=_RANGE_INDEX, clean=clean,
        base_version=base_version,
    )


#: Bloom-index sizing: 65536 bits (8 KiB) / 5 hashes per file ⇒ <0.5%
#: false-positive rate at ~5000 distinct keys per file (Hudi's dynamic
#: bloom targets the same regime). A false positive only costs an extra
#: file rewrite; false negatives are impossible (bloom property).
BLOOM_BITS = 65536
BLOOM_HASHES = 5
_BLOOM_DIR = "_bloom"  # underscore prefix: invisible to parquet scans


def _bloom_positions(key_col):
    """Array of BLOOM_HASHES bit positions for one key (xxhash64 seeded
    by hashing the seed literal alongside the key)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key_col, F.lit(s)), F.lit(BLOOM_BITS))
            for s in range(BLOOM_HASHES)
        ]
    )


def _bloom_words(file_keys: DataFrame, key: str) -> DataFrame:
    """Fold a (file, key) relation into per-file bloom bitsets stored as
    a sparse (file, word_idx, word) relation — ≤ BLOOM_BITS/64 rows per
    file regardless of row count (the aggregate is the index build)."""
    p = file_keys.select("file", F.explode(_bloom_positions(F.col(key))).alias("pos"))
    return (
        p.select(
            "file",
            F.expr("pos div 64").cast("int").alias("word_idx"),
            # shiftleft's bit-count argument must be a column here, which
            # the Python F.shiftleft API doesn't accept — SQL form.
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("file", "word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def _table_bloom_words(spark, path: str, key: str, files: list[str] | None = None) -> DataFrame:
    """Bloom words for ``files`` of the table (all files when None),
    reading only the key column (column-pruned scan).

    Every file additionally gets one marker row (word_idx = -1, word = 0)
    so that EMPTY data files — a commit's writer can emit zero-row part
    files — still appear in the sidecar: the sidecar-vs-listing
    validation on load compares file sets, and a perpetually-absent
    empty file would force a cold rebuild on every upsert. Markers can
    never match a probe (probe word_idx ≥ 0)."""
    import glob
    import os

    if files is None:
        files = sorted(
            os.path.basename(f)
            for f in glob.glob(os.path.join(path, "*.parquet"))
        )
    src = spark.read.parquet(*[os.path.join(path, f) for f in files])
    keyed = src.select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
        F.col(key),
    )
    markers = local_frame(spark, [(f,) for f in files], "file string").select(
        "file",
        F.lit(-1).cast("int").alias("word_idx"),
        F.lit(0).cast("long").alias("word"),
    )
    return _bloom_words(keyed, key).unionByName(markers)


def _bloom_probe_files(words: DataFrame, probe_keys: DataFrame, key: str) -> list[str]:
    """Files whose bloom bitset MIGHT contain a probe key: broadcast the
    tiny word relation against the distinct keys, a file matches a key
    when all BLOOM_HASHES bits are set. Returns file basenames (the only
    thing that reaches the driver — Hudi's index lookup contract)."""
    probe = (
        probe_keys.select(F.col(key).alias("__bk"))
        .distinct()
        .select(
            "__bk", F.posexplode(_bloom_positions(F.col("__bk"))).alias("seed", "pos")
        )
        .select(
            "__bk",
            "seed",
            F.expr("pos div 64").cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
    )
    return [
        r["file"]
        for r in (
            probe.join(F.broadcast(words), on="word_idx")
            .filter(F.col("word").bitwiseAND(F.col("mask")) != 0)
            .groupBy("file", "__bk")
            .agg(F.countDistinct("seed").alias("nbits"))
            .filter(F.col("nbits") == BLOOM_HASHES)
            .select("file")
            .distinct()
            .collect()
        )
    ]


def build_secondary_index(spark, path: str, col: str) -> int:
    """Secondary bloom index on a NON-key column (Hudi 1.0's secondary
    index): per-file bloom bitsets over ``col``'s values, stored in a
    ``_bloom_<col>`` sidecar with the same sparse word layout as the
    record-key index. Point lookups on ``col`` then prune files through
    :func:`read_point_lookup` even though the table is laid out (and
    range/bloom-indexed) by its record key — the query pattern a keyed
    layout can't serve ("orders of customer X" on a table clustered by
    order id).

    Built with one column-pruned scan of the manifest-live files
    (O(table · 1 column)); like Hudi's async indexer this is a table
    service, re-run (or validated-and-rebuilt on manifest mismatch —
    the same self-heal as the primary index) after commits. Returns the
    number of files indexed."""
    import os

    _, live_files = table_live_files(path)
    if not live_files:
        raise FileNotFoundError(f"no data files at {path!r}")
    words = _table_bloom_words(spark, path, col, live_files)
    words.write.mode("overwrite").parquet(
        os.path.join(path, f"{_BLOOM_DIR}_{col}")
    )
    return len(live_files)


def read_point_lookup(
    spark, path: str, key: str, values: list, *, primary: bool = True
) -> DataFrame:
    """Index-accelerated point read of a keyed COW table: scan ONLY the
    files that can contain the requested key values — the read-path twin
    of the write-side index pruning (Hudi serves point lookups through
    the same bloom/column-stats metadata). Pruning source, best first:

    1. the ``_rli`` record-level index (primary lookups; when present
       and manifest-consistent) — exact key→file mapping;
    2. the ``_bloom`` sidecar (same conditions) — per-key membership,
       survives hash-scattered layouts;
    3. parquet footer min/max ranges — effective on a
       ``cluster_linear``-by-key layout;
    4. no index ⇒ the full manifest-consistent file set (correct,
       unpruned).

    The residual ``key IN (values)`` filter always applies (bloom false
    positives, range overlap), so results are exact regardless of which
    index pruned. Returns an empty-but-typed frame when pruning
    eliminates every file.

    ``key`` may also be a NON-key column carrying a secondary index
    (:func:`build_secondary_index`): pass ``primary=False`` — the
    column-specific ``_bloom_<col>`` sidecar is used (else footer
    ranges), and the bare ``_bloom`` sidecar is deliberately NOT
    consulted: it holds record-key bits, and probing it with another
    column's values would yield bloom false NEGATIVES — silently missing
    rows, not just weaker pruning."""
    import os

    from .clustering import file_column_bounds

    _, live_files = table_live_files(path)
    if not live_files:
        raise FileNotFoundError(f"no data files at {path!r}")
    probe_df = local_frame(
        spark,
        [(v,) for v in values],
        spark.read.parquet(os.path.join(path, live_files[0])).select(key).schema,
    )
    # Exact record-level index first (primary lookups only — the RLI
    # maps the RECORD key): no false positives, minimal file set.
    rli = _valid_sidecar(spark, path, live_files, _RLI_DIR) if primary else None
    words = None
    if rli is None:
        words = _valid_sidecar(spark, path, live_files, f"{_BLOOM_DIR}_{key}")
        if words is None and primary:
            words = _valid_sidecar(spark, path, live_files, _BLOOM_DIR)
    if rli is not None:
        candidates = _rli_probe_files(rli, probe_df, key)
    elif words is not None:
        candidates = _bloom_probe_files(words, probe_df, key)
    else:
        # A file with rows but no footer bounds may hold any value.
        candidates = [
            b["file"]
            for b in file_column_bounds(path, [key], files=live_files)
            if b["rows"]
            and (
                b[key][0] is None
                or any(b[key][0] <= v <= b[key][1] for v in values)
            )
        ]
    reader = spark.read.parquet(
        *[os.path.join(path, f) for f in (candidates or [live_files[0]])]
    )
    out = reader.filter(F.col(key).isin(values))
    # Empty candidate set: the filter on one real file yields the right
    # (empty) result with the table's schema.
    return out.limit(0) if not candidates else out


def upsert_parquet_bloom_indexed(
    spark,
    batch: DataFrame,
    path: str,
    key: str,
    precombine: str,
    *,
    delete_col: str | None = None,
) -> int:
    """Bloom-indexed COW upsert — Hudi's DEFAULT index type
    (``hoodie.index.type=BLOOM``; pipeline_architecture.py:183-192 runs
    its upserts against exactly this index): each data file carries an
    8 KiB bloom bitset over its record keys, a batch rewrites only the
    files whose bloom *might* contain a batch key, and — unlike the
    key-range SIMPLE index of :func:`upsert_parquet_indexed` — pruning
    survives an UNCLUSTERED layout: membership is per-key, not per-range,
    so scattered keys still skip every file they can't be in.

    The index lives in a ``_bloom`` sidecar relation (underscore-prefixed
    ⇒ invisible to table scans; Hudi stores the same bits in file footers
    / its metadata table), maintained incrementally: only files written
    by this commit get their blooms (re)computed, O(batch), never
    O(table). Probing is a broadcast join of the tiny word relation
    against the batch's distinct keys — a file is affected when all
    BLOOM_HASHES bits of some batch key are set — so neither the batch
    nor the table ever reaches the driver (only the affected-file NAME
    list does, as with Hudi's index lookup).

    Commit protocol: the manifest publish is the atomic commit point
    (see the manifest-protocol block above); the sidecar is updated
    post-commit and validated against the manifest on load, so a crash
    anywhere leaves readers consistent and at worst costs one cold
    index rebuild.
    """
    return _indexed_upsert(
        spark, batch, path, [key], precombine,
        delete_col=delete_col, index=_BLOOM_INDEX,
    ).rows_written


_RLI_DIR = "_rli"  # record-level index sidecar: (key, file) rows


def _table_rli(spark, path: str, key: str, files: list[str]) -> DataFrame:
    """(key, file) rows for ``files`` — one column-pruned scan. Every
    file additionally gets one NULL-key marker row so EMPTY data files
    still appear in the sidecar (same rationale as the bloom marker:
    the consistency check compares file sets); NULL keys can never match
    a probe."""
    import os

    src = spark.read.parquet(*[os.path.join(path, f) for f in files])
    rows = src.select(
        F.col(key),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
    )
    markers = local_frame(spark, [(f,) for f in files], "file string").select(
        F.lit(None).cast(src.schema[key].dataType).alias(key), "file"
    )
    return rows.unionByName(markers)


def _rli_probe_files(rli: DataFrame, probe_keys: DataFrame, key: str) -> list[str]:
    """Files the record-level index maps a probe key to: the probe's
    distinct keys (broadcast) semi-join the (key, file) relation — exact,
    no false positives; only file NAMES reach the driver."""
    return [
        r["file"]
        for r in (
            rli.join(
                F.broadcast(probe_keys.select(key).distinct()),
                on=key,
                how="left_semi",
            )
            .select("file")
            .distinct()
            .collect()
        )
    ]


_BLOOM_INDEX = _SidecarIndex(_BLOOM_DIR, _table_bloom_words, _bloom_probe_files)
_RECORD_INDEX = _SidecarIndex(_RLI_DIR, _table_rli, _rli_probe_files)


def upsert_parquet_record_indexed(
    spark,
    batch: DataFrame,
    path: str,
    key: str,
    precombine: str,
) -> int:
    """Record-level-indexed COW upsert — Hudi 1.0's RECORD_INDEX
    (``hoodie.index.type=RECORD_INDEX``): an EXACT key→file mapping in a
    ``_rli`` sidecar decides file affectedness — no false positives
    (bloom) and no layout dependence (range), at the cost of an index
    whose size is O(table keys) rather than O(files). That is exactly
    Hudi's trade: the RLI lives in its metadata table, hash-bucketed by
    key; here it is a parquet relation joined column-pruned.

    Probe shape: batch keys (small side, broadcast) semi-join the index
    — the index scan reads two thin columns, the table reads nothing;
    only affected file NAMES reach the driver. Inserts (keys absent from
    the index) rewrite nothing and land as new files. Maintenance is
    incremental per commit: replaced files' rows drop, new files' rows
    append — O(commit), never O(table).

    Same manifest-CAS commit protocol as the other indexed writers;
    the sidecar self-heals by manifest-mismatch cold rebuild.
    Returns rows written.
    """
    return _indexed_upsert(
        spark, batch, path, [key], precombine,
        delete_col=None, index=_RECORD_INDEX,
    ).rows_written


def recluster_indexed_table(
    spark, path: str, key: str, *, n_files: int = 16, zorder_with: str | None = None
) -> int:
    """Clustering table service on a manifest-committed table (Hudi's
    clustering / ``replacecommit``): rewrite the live file set into
    ``n_files`` key-sorted files with DISJOINT footer key ranges, so the
    SIMPLE range index prunes tightly again after a run of scattered
    upserts degraded the layout. Data is untouched — only arrangement.

    Runs through the same stage → manifest-CAS-commit → clean protocol
    as the indexed writers: readers see the old arrangement or the new
    one, never a mix, and a concurrent upsert racing this service loses
    (or wins) the manifest version atomically
    (:class:`ConcurrentCommitError`). One shuffle (range partition by
    key) over the table — the service is scheduled, not per-commit, so
    that cost amortizes over the upserts it re-accelerates. Returns rows
    rewritten.

    ``zorder_with`` switches to 2-D z-order clustering on
    (``key``, ``zorder_with``) — Hudi's ``hoodie.clustering.plan.
    strategy.sort.columns`` with z-ordering: both columns' footer
    ranges tighten simultaneously, so skipping works for predicates on
    EITHER column, at the cost of looser single-column ranges than the
    linear layout."""
    from .clustering import cluster_linear, cluster_zorder

    version, live_files = table_live_files(path)
    if not live_files:
        raise FileNotFoundError(f"no data files at {path!r}")
    current = read_indexed_table(spark, path)
    clustered = (
        cluster_zorder(current, key, zorder_with, n_files)
        if zorder_with is not None
        else cluster_linear(current, [key], n_files)
    )
    _, n_written = _commit_staged(path, clustered, version + 1, kept=[])
    return n_written


def hudi_writer_options(
    table_name: str,
    keys: list[str],
    precombine: str,
    *,
    automatic_clean: bool = True,
) -> dict[str, str]:
    """The reference's Hudi writer options (:183-192, :245-254) for
    connector passthrough when the Hudi bundle is present; the engine
    itself does not require them."""
    return {
        "hoodie.table.name": table_name,
        "hoodie.datasource.write.recordkey.field": ",".join(keys),
        "hoodie.datasource.write.precombine.field": precombine,
        "hoodie.datasource.write.operation": "upsert",
        "hoodie.datasource.write.table.type": "COPY_ON_WRITE",
        "hoodie.datasource.write.keygenerator.class": (
            "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
        ),
        "hoodie.clean.automatic": "true" if automatic_clean else "false",
        "hoodie.metadata.enable": "false",
    }


def vacuum_orphans(
    path: str, *, min_age_seconds: float = 24 * 3600.0
) -> list[str]:
    """Reclaim ORPHAN data files under a manifest-committed table — the
    Delta-VACUUM / Hudi orphan-file-clean operation the post-commit
    cleaner cannot cover: a crash between staging-move and manifest
    publish leaves files no manifest references (invisible to every
    reader, but paying storage forever).

    Deletes ``*.parquet`` files that are (a) NOT referenced by ANY
    committed manifest version still on disk and (b) older than
    ``min_age_seconds``. The live set is the UNION across every
    ``_manifest/v*.json`` — not just the latest — because older
    versions stay addressable: catalogs and branches pin specific
    versions (``operators/txn.py::read_table_at_catalog`` resolves
    through ``manifest_files_at``), and time travel reads them
    directly. A file referenced only by an old version is HISTORY, not
    an orphan; reclaiming history is the cleaner's job (it retires the
    old manifests first, at which point their exclusively-referenced
    files genuinely become orphans for this vacuum).

    The age guard is the same safety rule as Delta's retention check:
    a CONCURRENT in-flight commit has already moved its staged files in
    (pre-commit, unreferenced until its manifest publishes), and only
    age separates those from true orphans — so the floor must exceed
    the longest plausible commit duration. Manifest-referenced files
    are never touched, so a racing read can never lose a live file.

    Returns the removed basenames. A table without a manifest is left
    alone entirely (nothing can be proven orphaned).
    """
    import glob
    import os
    import time

    versions = _json_versions(os.path.join(path, _MANIFEST_DIR))
    if not versions:
        return []
    live_set: set[str] = set()
    for v in versions:
        live_set.update(manifest_files_at(path, v))
    now = time.time()
    removed = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        base = os.path.basename(f)
        if base in live_set:
            continue
        try:
            if now - os.path.getmtime(f) < min_age_seconds:
                continue
            os.remove(f)
            removed.append(base)
        except OSError:
            pass
    return removed


def retire_manifests(
    path: str, *, pinned: set[int], keep_latest: int = 1
) -> list[int]:
    """The history CLEANER for manifest-committed tables — the step
    between "older version" and "vacuumable orphan": delete manifest
    versions that (a) are not in ``pinned`` (versions any catalog
    version or branch still references — compute with
    ``operators/txn.py::catalog_pinned_versions``; pass every
    savepoint/time-travel target you want readable too) and (b) are not
    among the newest ``keep_latest`` versions.

    Only AFTER a manifest version is retired do the files it exclusively
    referenced stop appearing in :func:`vacuum_orphans`'s live-set union
    and become reclaimable. Retiring only metadata keeps the two steps
    independently safe: a crash between them merely delays reclamation.

    Returns the retired version numbers. The latest version is always
    kept regardless of ``pinned``.
    """
    import os

    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1 (the table head)")
    mdir = os.path.join(path, _MANIFEST_DIR)
    versions = _json_versions(mdir)
    keep = set(versions[-keep_latest:]) | set(pinned)
    retired = []
    for v in versions:
        if v in keep:
            continue
        try:
            os.remove(os.path.join(mdir, f"v{v}.json"))
            retired.append(v)
        except OSError:
            pass
    return retired
