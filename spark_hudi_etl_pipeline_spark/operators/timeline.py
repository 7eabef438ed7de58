"""Commit timeline: append-only upsert log + point-in-time (time-travel)
reads + compaction — Hudi's timeline/MOR architecture re-expressed on
plain parquet with Spark-native pruning.

The reference delegates table history to Hudi's ``.hoodie`` timeline
(pipeline_architecture.py:183-192 — COW upsert commits; README.md's Hudi
sections describe incremental/point-in-time queries as the reason to use
Hudi at all). This module provides the same capabilities engine-side:

- **Write path (MOR-flavored)**: each upsert batch is an immutable commit
  appended as its own hive partition ``commit_ts=N/`` — an O(batch)
  append that never touches earlier commits (no read-modify-write, no
  table rewrite; contrast ``merge.upsert_parquet``, the COW path, which
  rewrites the table and commits it by one manifest publish).
- **Read path (merge-on-read)**: table state *as of* commit T is
  reconstructed by folding all commits ≤ T. The fold is ONE window over
  the pruned union — the ``commit_ts <= T`` predicate is a partition
  filter, so time-travel never scans commits after T.
- **Compaction**: commits ≤ T collapse into a single base commit,
  bounding read amplification — Hudi's compactor, one job.

Fold semantics and their precondition
-------------------------------------
Sequential upsert semantics (``merge_upsert`` applied commit by commit,
the reference model in ``tests/test_timeline.py``) are the ground
truth: larger precombine wins, the newer commit wins ties, a winning
delete removes the key. The single-window
fold (:func:`fold_commits`) computes per key the row with max
``(precombine, commit_ts)``:

- With no delete records the two are ALWAYS equal (latest-wins is
  associative).
- With delete records they are equal when each key's precombine values
  are non-decreasing in commit order — the normal case, where precombine
  is an event/update timestamp. (The divergence case: a delete wins at
  commit k, and a LATER commit re-inserts the key with an OLDER
  precombine. Sequential semantics insert it — the key was gone; the
  window still sees the delete as the max. That ordering means your
  precombine column is not a time.)

Equivalence with the sequential fold on the monotone domain is
property-tested in ``tests/test_timeline.py``.

Scale (100 TB): commits shuffle nothing on write. The fold is one hash
shuffle on the record key over only the pruned commits; with frequent
compaction the read cost is base + a short tail of deltas, exactly
Hudi's MOR read-optimized/realtime trade.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..session import local_frame

COMMIT_COL = "commit_ts"
_FOLD_RN = "__fold_rn"


def commit_append(
    spark, batch: DataFrame, path: str, commit_ts: int
) -> None:
    """Append ``batch`` as the immutable commit ``commit_ts=N`` partition.

    O(batch): a pure append of new files under a new partition directory;
    earlier commits are never read or written. ``commit_ts`` must be a
    fresh, monotonically assigned commit instant (the caller's timeline
    authority — Hudi's ``.hoodie`` instant allocation).
    """
    if COMMIT_COL in batch.columns:
        raise ValueError(f"batch must not already carry {COMMIT_COL!r}")
    existing = commit_instants(spark, path)
    if existing and commit_ts <= max(existing):
        raise ValueError(
            f"commit_ts={commit_ts} is not after the latest commit "
            f"{max(existing)} — timeline instants must be monotone"
        )
    (
        batch.withColumn(COMMIT_COL, F.lit(commit_ts).cast("long"))
        .write.mode("append")
        .partitionBy(COMMIT_COL)
        .parquet(path)
    )


_BOOTSTRAP_FILE = "_bootstrap.json"


def _bootstrap_info(path: str) -> tuple[str, int] | None:
    """(source path, instant) of a metadata-only bootstrap base, or None."""
    import json

    p = os.path.join(path, _BOOTSTRAP_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        d = json.load(fh)
    return d["source"], int(d["commit_ts"])


def bootstrap_timeline(
    spark, source_path: str, path: str, *, commit_ts: int = 1
) -> int:
    """Hudi METADATA_ONLY bootstrap: adopt an EXISTING plain parquet
    table as the timeline's base commit WITHOUT copying or rewriting a
    single data file — only a marker referencing the source lands on the
    timeline (Hudi's bootstrap operation exists precisely because
    rewriting a 100 TB legacy table to onboard it is a non-starter).
    Readers union the referenced base (tagged with ``commit_ts``) under
    every fold; the first compaction at or past the bootstrap instant
    collapses it into a real base commit and retires the marker.
    Returns the bootstrap instant."""
    import json

    if not os.path.isdir(source_path):
        raise FileNotFoundError(f"bootstrap source {source_path!r} not found")
    existing = commit_instants(spark, path)
    if existing:
        raise ValueError(
            f"timeline at {path!r} already has commits {existing}; "
            "bootstrap must be the first instant"
        )
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _BOOTSTRAP_FILE), "w") as fh:
        json.dump({"source": source_path, "commit_ts": commit_ts}, fh)
    return commit_ts


_CLONE_FILE = "_clone.json"


def _clone_info(path: str) -> tuple[str, int] | None:
    """(source timeline path, clone-point instant) of a shallow clone,
    or None."""
    import json

    p = os.path.join(path, _CLONE_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        d = json.load(fh)
    return d["source"], int(d["as_of"])


def shallow_clone(
    spark,
    source_path: str,
    path: str,
    *,
    as_of: int | None = None,
    pin_source: bool = False,
) -> int:
    """Delta-style ZERO-COPY shallow clone: create a new timeline at
    ``path`` whose state equals the source timeline as of instant
    ``as_of`` (latest when None) WITHOUT copying a single data file —
    only a ``_clone.json`` marker referencing the source lands on disk.
    Readers union the source's partition-pruned commits ≤ ``as_of`` with
    the clone's own delta commits, so the clone diverges independently:
    commits appended to the clone never touch the source, and source
    commits after ``as_of`` are invisible to the clone (both directions
    are partition filters, tested in ``tests/test_clone.py``).

    At 100 TB this is the point of the operation — dev/test branches,
    reproducible experiment snapshots, and blue/green restatements of a
    huge table are O(metadata), not O(data) (Delta Lake's SHALLOW CLONE;
    Hudi lacks it natively, which is why its users ask for it).

    Lifecycle composition:
    - ``compact_timeline(clone, up_to >= as_of)`` MATERIALIZES the clone
      (folds the referenced source prefix + local deltas into a real
      base commit and retires the marker — afterwards the clone is fully
      self-contained); a partial compaction (``up_to < as_of``) raises.
    - The clone is broken if the SOURCE later compacts past ``as_of``
      (the referenced history is collapsed) — reads then raise rather
      than return corrupt state. ``pin_source=True`` savepoints
      ``as_of`` on the source so its cleaner can never do that (the
      documented Delta hazard — VACUUM breaking clones — made a
      detected, preventable error here).

    Returns the clone-point instant."""
    import json

    src_instants = commit_instants(spark, source_path)
    if not src_instants:
        raise FileNotFoundError(
            f"cannot clone empty timeline at {source_path!r}"
        )
    if as_of is None:
        as_of = src_instants[-1]
    if as_of not in src_instants:
        raise ValueError(
            f"as_of={as_of} is not a commit instant on the source "
            f"timeline {source_path!r} (instants: {src_instants})"
        )
    _check_reconstructable(source_path, as_of, "as_of")
    if commit_instants(spark, path) or _clone_info(path) is not None:
        raise ValueError(
            f"clone destination {path!r} is not empty — a clone must be "
            "the first instant on its timeline"
        )
    if pin_source:
        savepoint(spark, source_path, as_of)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _CLONE_FILE), "w") as fh:
        json.dump({"source": source_path, "as_of": as_of}, fh)
    return as_of


def commit_instants(spark, path: str) -> list[int]:
    """The timeline: sorted commit instants present at ``path`` (from the
    partition directory names plus the bootstrap/clone markers — no data
    files are read). For a shallow clone the referenced source instants
    ≤ the clone point ARE the clone's history, so they appear here (and
    monotonicity checks in :func:`commit_append` therefore force clone
    commits past the clone point)."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith(f"{COMMIT_COL}="):
            out.append(int(d.split("=", 1)[1]))
    boot = _bootstrap_info(path)
    if boot is not None:
        out.append(boot[1])
    clone = _clone_info(path)
    if clone is not None:
        src, as_of = clone
        out.extend(t for t in commit_instants(spark, src) if t <= as_of)
    return sorted(set(out))


def _read_log(spark, path: str) -> DataFrame:
    """The full commit log at ``path`` as one DataFrame carrying
    ``commit_ts`` — delta commit partitions unioned with the
    metadata-only bootstrap base (if any), whose constant instant column
    lets Catalyst constant-fold instant predicates to an empty relation,
    so time-travel before the bootstrap never scans the source."""
    boot = _bootstrap_info(path)
    has_deltas = any(
        d.startswith(f"{COMMIT_COL}=") for d in os.listdir(path)
    )
    # NOTE: no cast on the delta side — commit_ts must stay the raw
    # partition column so instant predicates remain PartitionFilters
    # (asserted in tests/test_timeline.py); the union's set-operation
    # type widening reconciles int-inferred partition values with the
    # base's long literal. mergeSchema: a later commit may ADD columns
    # (schema evolution on the log — Hudi's schema.on.read for MOR);
    # without it parquet picks ONE file's schema and silently DROPS the
    # new column from every read. Footer-merge cost is per-file
    # metadata, amortized by compaction.
    deltas = (
        spark.read.option("mergeSchema", "true").parquet(path)
        if has_deltas
        else None
    )
    clone = _clone_info(path)
    if clone is not None:
        src, as_of = clone
        src_bases = compaction_instants(src)
        if src_bases and src_bases[-1] > as_of:
            raise ValueError(
                f"shallow clone at {path!r} is broken: its source "
                f"{src!r} compacted past the clone point {as_of} "
                f"(newest base {src_bases[-1]}) — the referenced history "
                "was collapsed. pin_source=True at clone time prevents "
                "this (the cleaner honors savepoints)."
            )
        # Both bounds are partition filters on the source scan: commits
        # after the clone point are never read, and the recursion makes
        # chained clones (clone of a clone) just work.
        src_log = _read_log(spark, src).filter(F.col(COMMIT_COL) <= as_of)
        if deltas is None:
            return src_log
        # allowMissingColumns: the clone may evolve its schema past the
        # source's (and never the reverse — the source is read-only to
        # the clone).
        return deltas.unionByName(src_log, allowMissingColumns=True)
    if boot is None:
        if deltas is None:
            raise FileNotFoundError(f"empty timeline at {path!r}")
        return deltas
    src, ts = boot
    base = spark.read.parquet(src).withColumn(
        COMMIT_COL, F.lit(ts).cast("long")
    )
    if deltas is None:
        return base
    # allowMissingColumns: post-bootstrap commits may have widened the
    # schema; the legacy base reads the added columns as NULL.
    return deltas.unionByName(base, allowMissingColumns=True)


def fold_commits(
    log: DataFrame,
    keys: list[str],
    precombine: str,
    *,
    delete_col: str | None = None,
    meta_col: str | None = None,
) -> DataFrame:
    """Collapse a commit log (rows carrying ``commit_ts``) to current
    table state with ONE window: per key, the row with the largest
    ``(precombine, commit_ts)`` wins; a winning delete record removes the
    key. See the module docstring for the delete+non-monotone-precombine
    precondition.

    ``meta_col`` names an output column carrying the WINNING row's
    commit instant — Hudi's ``_hoodie_commit_time`` record-level
    metadata, the per-row lineage an incremental consumer or audit
    reader keys on. Free: the instant is already on the winning row.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.desc(precombine), F.desc(COMMIT_COL)
    )
    folded = log.withColumn(_FOLD_RN, F.row_number().over(w)).filter(
        F.col(_FOLD_RN) == 1
    )
    if meta_col is not None:
        folded = folded.withColumn(meta_col, F.col(COMMIT_COL))
    folded = folded.drop(_FOLD_RN, COMMIT_COL)
    if delete_col is not None:
        folded = folded.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return folded


def _check_reconstructable(path: str, instant: int, what: str) -> None:
    """Refuse reads whose ``instant`` predates the compaction horizon —
    the oldest state still reconstructable from the timeline. The
    per-commit deltas at or before the newest published base were
    collapsed into it, so an earlier as-of/since would silently read an
    empty or partial log (Hudi raises for incremental/time-travel reads
    past cleaned history rather than returning corrupt output)."""
    bases = compaction_instants(path)
    if bases and instant < bases[-1]:
        raise ValueError(
            f"{what}={instant} predates the compaction horizon "
            f"{bases[-1]} at {path!r}: that history was collapsed "
            "(savepoint instants you need to keep readable before "
            "cleaning/compacting)"
        )


def read_as_of(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    as_of: int,
    *,
    delete_col: str | None = None,
) -> DataFrame:
    """Time-travel read: table state as of commit instant ``as_of``
    (inclusive). The instant predicate is a PARTITION filter — commits
    after ``as_of`` are never scanned (asserted in
    ``tests/test_timeline.py``).

    Raises when ``as_of`` predates the compaction horizon (the newest
    published base): the deltas needed to reconstruct that state were
    collapsed, so the read would silently return an empty/partial table
    otherwise. Hudi likewise refuses time travel past cleaned history;
    savepoint an instant to keep it readable."""
    _check_reconstructable(path, as_of, "as_of")
    log = _read_log(spark, path).filter(F.col(COMMIT_COL) <= as_of)
    return fold_commits(log, keys, precombine, delete_col=delete_col)


def read_incremental(
    spark, path: str, since: int, as_of: int | None = None
) -> DataFrame:
    """Hudi-style incremental query: the raw change records committed in
    ``(since, as_of]`` — the CDC feed a downstream incremental consumer
    reads instead of diffing snapshots. Partition-pruned on both bounds.

    Raises when ``since`` predates the compaction horizon: the per-commit
    deltas in ``(since, horizon]`` no longer exist (collapsed into the
    base), so the pull would treat the whole base as one giant change
    batch — silently corrupt CDC output. Matches Hudi's behavior for
    incremental reads past cleaned history."""
    _check_reconstructable(path, since, "since")
    log = _read_log(spark, path).filter(F.col(COMMIT_COL) > since)
    if as_of is not None:
        log = log.filter(F.col(COMMIT_COL) <= as_of)
    return log


def timeline_cdc(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    since: int,
    as_of: int | None = None,
    *,
    delete_col: str | None = None,
    images: bool = False,
) -> DataFrame:
    """Hudi CDC-format incremental query
    (``hoodie.datasource.query.incremental.format=cdc``): key-level
    change rows — ``change_type`` ∈ {insert, update, delete} — between
    table state as of ``since`` and as of ``as_of`` (latest when None),
    computed FROM THE TIMELINE rather than by diffing two materialized
    snapshots (contrast ``maintenance.snapshot_diff``, which needs both
    snapshots on disk).

    Scale shape: the delta commits in ``(since, as_of]`` are read with a
    partition filter (O(changed data)); their distinct keys — the only
    keys whose state can have changed — are then SEMI-JOIN pruned into
    both fold sides, so the per-key merge windows run over touched keys
    only, never the full table. The pre-``since`` commits are still
    scanned to reconstruct the before-image (bounded by compaction: base
    + short tail, like every timeline read); with the table bucketed by
    key the semi join pushes no shuffle onto the log side. A key
    re-upserted with UNCHANGED values emits nothing (null-safe struct
    comparison), matching Hudi's cdc payload semantics.

    ``images=True`` adds the full BEFORE and AFTER row images —
    ``before_<col>`` / ``after_<col>`` for every non-key column — the
    payload downstream CDC consumers (audit trails, cache invalidation,
    reverse ETL) actually apply; NULL on the missing side of
    inserts/deletes, exactly Hudi's cdc ``before``/``after`` fields.
    Same plan shape: one extra projection, no extra joins.
    """
    changes = read_incremental(spark, path, since, as_of)
    touched = changes.select(*keys).distinct()
    log = _read_log(spark, path)
    before = fold_commits(
        log.filter(F.col(COMMIT_COL) <= since).join(
            F.broadcast(touched), on=keys, how="left_semi"
        ),
        keys,
        precombine,
        delete_col=delete_col,
    )
    after_log = log if as_of is None else log.filter(F.col(COMMIT_COL) <= as_of)
    after = fold_commits(
        after_log.join(F.broadcast(touched), on=keys, how="left_semi"),
        keys,
        precombine,
        delete_col=delete_col,
    )
    from .maintenance import snapshot_diff

    if not images:
        return snapshot_diff(before, after, keys)
    non_keys = [c for c in before.columns if c not in keys]
    b = before.select(
        *keys,
        *[F.col(c).alias(f"before_{c}") for c in non_keys],
        F.lit(True).alias("__in_old"),
    )
    a = after.select(
        *keys,
        *[F.col(c).alias(f"after_{c}") for c in non_keys],
        F.lit(True).alias("__in_new"),
    )
    joined = b.join(a, on=keys, how="full_outer")
    changed = ~F.struct(
        *[F.col(f"before_{c}") for c in non_keys]
    ).eqNullSafe(F.struct(*[F.col(f"after_{c}") for c in non_keys]))
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("__in_old").isNull(), "insert")
            .when(F.col("__in_new").isNull(), "delete")
            .when(changed, "update"),
        )
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[f"before_{c}" for c in non_keys],
            *[f"after_{c}" for c in non_keys],
        )
    )


_COMPACTIONS_DIR = "_compactions"


def compaction_instants(path: str) -> list[int]:
    """Sorted instants at which a compacted base commit was published
    (from the ``_compactions/`` marker files — metadata only)."""
    d = os.path.join(path, _COMPACTIONS_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(int(f) for f in os.listdir(d) if f.isdigit())


def _compaction_target(path: str, up_to: int) -> int | None:
    """THE single home of the compaction-policy decision (consumed by
    both :func:`compact_timeline` and :func:`maybe_compact`, so the two
    can never drift): clamp ``up_to`` to the oldest savepointed instant
    (collapsing past a pin would destroy the history the savepoint
    guarantees), and return None when the clamped target is at or below
    the newest published base — nothing new to collapse, a no-op."""
    pins = savepoints(path)
    if pins and pins[0] < up_to:
        up_to = pins[0]
    bases = compaction_instants(path)
    if bases and up_to <= bases[-1]:
        return None
    return up_to


def compact_timeline(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    up_to: int,
    *,
    delete_col: str | None = None,
) -> int:
    """Collapse commits ≤ ``up_to`` into a single base commit at instant
    ``up_to``, then drop the replaced commit partitions. Reads after
    compaction (as-of ≥ ``up_to``) see identical state with a shorter
    merge tail. Publishes a ``_compactions/<up_to>`` marker (Hudi's
    ``commit`` vs ``deltacommit`` instant-type distinction) so
    :func:`read_optimized` can locate the latest base without reading
    data files. Returns rows in the compacted base.

    Savepoints are honored exactly as in :func:`clean_timeline`:
    ``up_to`` is clamped to the oldest savepointed instant, so a pinned
    instant is never collapsed past — compacting AT the pin is safe (the
    base at the pin IS state-as-of-pin, so :func:`restore_to` /
    :func:`read_as_of` at the pin keep working), collapsing BEYOND it
    would irreversibly destroy the history the savepoint guarantees.
    A clamped-or-explicit ``up_to`` at or below the newest existing base
    is a no-op (nothing new to collapse) and returns 0."""
    target = _compaction_target(path, up_to)
    if target is None:
        return 0
    up_to = target
    clone = _clone_info(path)
    if clone is not None and up_to < clone[1]:
        # A base below the clone point would overlap the still-referenced
        # source commits and double-count on read. Materialization is
        # all-or-nothing: fold the whole source prefix (+ local deltas up
        # to the target) or nothing.
        raise ValueError(
            f"cannot partially compact shallow clone at {path!r}: "
            f"effective target {up_to} is below the clone point "
            f"{clone[1]} — compact at or past the clone point to "
            "materialize the clone"
        )
    instants = [t for t in commit_instants(spark, path) if t <= up_to]
    if not instants:
        return 0
    base = read_as_of(
        spark, path, keys, precombine, up_to, delete_col=delete_col
    )
    if delete_col is not None:
        # The folded state has no delete flag; recreate it so the
        # compacted base schema matches later delta commits.
        base = base.withColumn(delete_col, F.lit(False))
    # The base replaces the partitions it was read from: stage it (one
    # write job, rows counted on it), then swap it in for them.
    staging = f"{path}/.staging-compaction-{up_to}"
    base.observe(obs := Observation(), F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(staging)
    for t in instants:
        shutil.rmtree(f"{path}/{COMMIT_COL}={t}", ignore_errors=True)
    os.rename(staging, f"{path}/{COMMIT_COL}={up_to}")
    marker_dir = os.path.join(path, _COMPACTIONS_DIR)
    os.makedirs(marker_dir, exist_ok=True)
    with open(os.path.join(marker_dir, str(up_to)), "w"):
        pass
    # A bootstrap base at or before the compaction horizon is now
    # collapsed into the real base commit — retire the marker so reads
    # stop consulting the external source.
    boot = _bootstrap_info(path)
    if boot is not None and boot[1] <= up_to:
        os.remove(os.path.join(path, _BOOTSTRAP_FILE))
    # Likewise a shallow clone whose whole referenced prefix is now
    # collapsed into the local base is MATERIALIZED — retire the marker;
    # the clone no longer depends on its source.
    if clone is not None:
        os.remove(os.path.join(path, _CLONE_FILE))
    return int(obs.get["n"])


def timeline_history(spark, path: str) -> DataFrame:
    """DESCRIBE HISTORY for the timeline (Hudi's ``show commits`` /
    Delta's table history): one row per instant with its action kind —
    ``bootstrap`` (metadata-only base), ``commit`` (delta append), or
    ``compaction`` (published base; replaces the delta row at the same
    instant) — plus a ``savepointed`` flag. Metadata-only: directory
    names and marker files, no data reads."""
    boot = _bootstrap_info(path)
    bases = set(compaction_instants(path))
    pins = set(savepoints(path))
    rows = []
    for t in commit_instants(spark, path):
        if boot is not None and t == boot[1]:
            action = "bootstrap"
        elif t in bases:
            action = "compaction"
        else:
            action = "commit"
        rows.append((t, action, t in pins))
    return local_frame(spark, rows, "instant long, action string, savepointed boolean")


def maybe_compact(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    max_deltas: int,
    delete_col: str | None = None,
) -> int | None:
    """Hudi's NUM_COMMITS compaction trigger
    (``hoodie.compact.inline.max.delta.commits``): compact when the
    delta tail after the newest base exceeds ``max_deltas``, else do
    nothing — the policy wrapper that keeps MOR read amplification
    bounded when called after every commit (inline compaction) or from a
    table-service scheduler (async). Returns the new base instant, or
    None when the tail is short enough — or when the savepoint clamp
    (see :func:`compact_timeline`) leaves nothing new to collapse, so an
    inline trigger with an early savepoint pinned does not spin on
    no-op compactions."""
    if max_deltas < 1:
        raise ValueError("max_deltas must be >= 1")
    instants = commit_instants(spark, path)
    bases = compaction_instants(path)
    tail = [t for t in instants if not bases or t > bases[-1]]
    if len(tail) <= max_deltas:
        return None
    target = _compaction_target(path, tail[-1])
    if target is None:
        return None
    compact_timeline(
        spark, path, keys, precombine, target, delete_col=delete_col
    )
    return target


def read_optimized(spark, path: str) -> DataFrame:
    """Hudi MOR *read-optimized* query: scan ONLY the latest compacted
    base commit — a pure partition-pruned columnar scan with no merge
    window at all (zero shuffles), at the cost of staleness: delta
    commits after the last compaction are invisible, exactly Hudi's
    read-optimized/snapshot trade. Raises if no compaction has ever run
    (the timeline is all deltas — Hudi likewise shows nothing for
    log-only file groups; an explicit error beats silently returning an
    empty table).

    The snapshot (*realtime*) twin is :func:`read_realtime`.
    """
    bases = compaction_instants(path)
    if not bases:
        raise FileNotFoundError(
            f"no compacted base commit under {path!r} — run compact_timeline "
            "first, or use read_realtime/read_as_of for a full merge read"
        )
    base = bases[-1]
    return (
        spark.read.parquet(path)
        .filter(F.col(COMMIT_COL) == base)
        .drop(COMMIT_COL)
    )


_SAVEPOINTS_DIR = "_savepoints"


def savepoints(path: str) -> list[int]:
    """Sorted savepointed instants (``_savepoints/`` markers — metadata
    only, like :func:`compaction_instants`)."""
    d = os.path.join(path, _SAVEPOINTS_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(int(f) for f in os.listdir(d) if f.isdigit())


def savepoint(spark, path: str, instant: int) -> None:
    """Pin commit ``instant`` as a savepoint (Hudi ``savepoint`` action):
    the cleaner will never collapse history past it, so
    :func:`restore_to` / :func:`read_as_of` at this instant stay possible
    for as long as the marker exists. Metadata-only (one empty file)."""
    if instant not in commit_instants(spark, path):
        raise ValueError(
            f"cannot savepoint instant {instant}: not a commit on the "
            f"timeline at {path!r}"
        )
    d = os.path.join(path, _SAVEPOINTS_DIR)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(instant)), "w"):
        pass


def restore_to(spark, path: str, instant: int) -> list[int]:
    """Hudi ``restore``: rewind the table to its state as of commit
    ``instant`` by DELETING every later commit partition (plus their
    compaction/savepoint markers). Afterwards :func:`read_realtime`
    equals what :func:`read_as_of` (``as_of=instant``) returned before
    the restore. Destructive and O(#dropped commits) in metadata — data
    files of dropped commits are removed, earlier commits untouched.

    Restore cannot rewind past collapsed history: if a compaction (or
    cleaner run) published a base commit AFTER ``instant``, the
    pre-``instant`` deltas no longer exist and the restore raises — the
    reason savepoints exist (Hudi enforces the identical rule: restore
    targets must be savepointed before the cleaner reclaims them).
    Returns the dropped instants."""
    instants = commit_instants(spark, path)
    # Compaction check first: a collapsed instant is also absent from
    # the timeline, and "already collapsed" is the actionable error.
    bases = compaction_instants(path)
    if bases and bases[-1] > instant:
        raise ValueError(
            f"cannot restore to instant {instant}: compaction at "
            f"{bases[-1]} already collapsed the deltas needed to "
            "reconstruct it (savepoint instants you may need to restore)"
        )
    if instant not in instants:
        raise ValueError(
            f"cannot restore to instant {instant}: not a commit on the "
            f"timeline at {path!r}"
        )
    clone = _clone_info(path)
    if clone is not None and instant < clone[1]:
        raise ValueError(
            f"cannot restore shallow clone at {path!r} to instant "
            f"{instant}: it predates the clone point {clone[1]} — the "
            "referenced source commits cannot be dropped from here "
            "(restore the source, or re-clone at the earlier instant)"
        )
    dropped = [t for t in instants if t > instant]
    for t in dropped:
        shutil.rmtree(f"{path}/{COMMIT_COL}={t}", ignore_errors=True)
    for marker_dir in (_COMPACTIONS_DIR, _SAVEPOINTS_DIR):
        d = os.path.join(path, marker_dir)
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.isdigit() and int(f) > instant:
                    os.remove(os.path.join(d, f))
    return dropped


def rollback_last(spark, path: str) -> int:
    """Hudi ``rollback``: undo the single latest commit (the failed- or
    bad-batch escape hatch). Refuses to roll back a compacted base — that
    instant holds the collapsed history of every commit before it, so
    removing it would destroy state, not rewind it. Returns the
    rolled-back instant."""
    instants = commit_instants(spark, path)
    if not instants:
        raise ValueError(f"empty timeline at {path!r}: nothing to roll back")
    last = instants[-1]
    clone = _clone_info(path)
    if clone is not None and last <= clone[1]:
        raise ValueError(
            f"latest instant {last} on the shallow clone at {path!r} "
            "belongs to the referenced source — there is no local "
            "commit to roll back (roll back the source, or drop the "
            "clone)"
        )
    boot = _bootstrap_info(path)
    if boot is not None and boot[1] == last:
        raise ValueError(
            f"latest instant {last} is the metadata-only bootstrap base — "
            "it cannot be rolled back (drop the timeline instead)"
        )
    bases = compaction_instants(path)
    if bases and bases[-1] == last:
        raise ValueError(
            f"latest instant {last} is a compacted base commit — rolling "
            "it back would drop collapsed history; restore_to an earlier "
            "savepointed instant instead"
        )
    if last in savepoints(path):
        raise ValueError(
            f"latest instant {last} is savepointed — rolling it back "
            "would destroy pinned history (delete the savepoint first); "
            "Hudi enforces the same rule"
        )
    shutil.rmtree(f"{path}/{COMMIT_COL}={last}", ignore_errors=False)
    return last


def clean_timeline(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    retain_last: int,
    delete_col: str | None = None,
) -> int | None:
    """Hudi's cleaner (``hoodie.cleaner.commits.retained`` /
    KEEP_LATEST_COMMITS): bound the timeline's storage and read
    amplification by collapsing every commit OLDER than the
    ``retain_last``-newest into a single base at the retention horizon.
    Current state and every as-of read at or after the horizon are
    unchanged (the base at the horizon IS state-as-of-horizon); time
    travel before the horizon is deliberately given up — that is what a
    cleaner does.

    Savepoints are honored exactly as in Hudi: the horizon never passes
    the oldest savepointed instant, so a pinned instant stays
    restorable no matter how aggressive the retention. Returns the
    horizon instant a base was published at, or None when retention
    required no work (timeline already short enough, or the savepoint
    clamp left nothing to collapse)."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    instants = commit_instants(spark, path)
    if len(instants) <= retain_last:
        return None
    horizon = instants[-retain_last]
    pins = savepoints(path)
    if pins:
        horizon = min(horizon, pins[0])
    # Nothing older than the horizon ⇒ the clamp (or prior cleans) left
    # no deltas to collapse.
    if not any(t < horizon for t in instants):
        return None
    compact_timeline(
        spark, path, keys, precombine, horizon, delete_col=delete_col
    )
    return horizon


def read_realtime(
    spark,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    delete_col: str | None = None,
    meta_col: str | None = None,
) -> DataFrame:
    """Hudi MOR *snapshot* (realtime) query: current state = the latest
    compacted base merged with the delta commits after it. The fold
    window only spans base + tail — commits already collapsed into the
    base were deleted by the compactor, so read amplification is bounded
    by compaction frequency. Falls back to folding the whole timeline
    when no compaction has run.

    ``meta_col`` surfaces each row's winning commit instant (Hudi's
    ``_hoodie_commit_time`` meta column; note a compaction rewrites its
    rows' instants to the base instant, exactly as Hudi's compactor
    does)."""
    bases = compaction_instants(path)
    log = _read_log(spark, path)
    if bases:
        # Partition filter: everything at or after the newest base
        # (older delta partitions were removed by the compactor; the
        # predicate guards against replaced-but-unremoved stragglers).
        log = log.filter(F.col(COMMIT_COL) >= bases[-1])
    return fold_commits(
        log, keys, precombine, delete_col=delete_col, meta_col=meta_col
    )
