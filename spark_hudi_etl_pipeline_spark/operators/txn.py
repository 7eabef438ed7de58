"""Atomic MULTI-TABLE transactions: a catalog manifest (a
manifest-of-manifests) above the per-table manifest protocol of
``operators/merge.py``.

The reference's pipelines write one Hudi table per run
(pipeline_architecture.py:179-194); real deployments keep FAMILIES of
tables consistent — a base table and its downstream aggregate, a fact
and its index table — and Hudi offers nothing cross-table (its OCC is
per-table). The lakehouse answer (Iceberg REST catalog / Project
Nessie / Delta commit coordinators) is a CATALOG whose single CAS'd
version maps each table name to a pinned per-table manifest version:

    stage data files per table               (invisible)
      → publish each table's manifest vN+1   (invisible to CATALOG readers)
      → CAS-publish catalog vM+1             ← THE one atomic commit point

Readers resolve every table through the catalog, so a crash anywhere
before the catalog CAS leaves them on version M — a consistent snapshot
of ALL tables; they can never observe table A post-transaction and
table B pre-transaction. The same ``os.link`` CREATE-IF-ABSENT CAS as
the per-table protocol arbitrates concurrent transactions (one winner
per catalog version; losers get :class:`ConcurrentCommitError` and
retry against the new catalog state).

Per-table writes under a catalog run with ``clean=False``: files
referenced by an older, still-cataloged manifest version must survive a
newer per-table publish. History is kept: no code here retires manifest
versions, and ``operators/merge.py::vacuum_orphans`` (which keeps every
file any manifest version on disk references) removes only files no
manifest holds.

BRANCHES (:func:`create_branch` / :func:`merge_branch`) put a Nessie /
Iceberg-REST ref model on top: a branch is a named catalog-version
sequence whose v1 records the fork point. Branch commits merge each
table from the version THE BRANCH pins (``base_version`` threading into
the indexed upsert), so two branches writing the same table never see
each other; per-table manifest version numbers are pure allocation —
lineage is the pins. Merging is a table-granularity three-way diff
against the fork-point pins, published as one CAS'd catalog version on
the target (conflict → :class:`BranchMergeConflict`, rebase and retry).
All of it is metadata: branch create/merge/delete never touch a data
file, whatever the table sizes — the WAP pattern at catalog scope.

Scale (100 TB): everything here is metadata — a catalog version is one
tiny JSON object regardless of table sizes; the data path is the
unchanged O(affected files) indexed COW upsert. This is exactly why
production catalogs (Nessie, Iceberg REST) make multi-table commits a
catalog concern, not a data-file concern.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from .merge import (
    ConcurrentCommitError,
    _json_versions,
    _publish_json,
    manifest_files_at,
    upsert_parquet_indexed,
)

_CATALOG_DIR = "_catalog"
_MAIN = "main"


class BranchMergeConflict(RuntimeError):
    """Both the source branch and the target branch changed the same
    table since the fork point — table-granularity three-way merge
    cannot pick a side (Nessie's default content-unaware semantics).
    Rebase the source branch (re-apply its writes on the new target
    state) or resolve by hand."""


def _branch_dir(root: str, branch: str) -> str:
    """Catalog version directory of ``branch``. ``main`` IS the bare
    catalog dir, so single-branch users never see branch machinery."""
    cdir = os.path.join(root, _CATALOG_DIR)
    return cdir if branch == _MAIN else os.path.join(cdir, "branches", branch)


def _catalog_read(root: str, branch: str = _MAIN) -> tuple[int, dict]:
    """Latest committed (catalog version, full catalog record) on
    ``branch``, or ``(0, {})`` for a fresh catalog. Metadata-scale."""
    cdir = _branch_dir(root, branch)
    versions = _json_versions(cdir)
    if not versions:
        return 0, {}
    v = versions[-1]
    with open(os.path.join(cdir, f"v{v}.json")) as fh:
        return v, json.load(fh)


def catalog_latest(root: str, branch: str = _MAIN) -> tuple[int, dict[str, int]]:
    """Latest committed (catalog version, table → pinned manifest
    version) on ``branch``, or ``(0, {})`` for a fresh catalog."""
    v, rec = _catalog_read(root, branch)
    return v, {k: int(x) for k, x in rec.get("tables", {}).items()}


def _catalog_publish(
    root: str,
    tables: dict[str, int],
    version: int,
    *,
    branch: str = _MAIN,
    fork: dict | None = None,
) -> None:
    """CAS-publish catalog ``version`` on ``branch`` — the transaction's
    single atomic commit point (the per-table manifest publish's
    CREATE-IF-ABSENT helper, ``merge._publish_json``; a conditional PUT
    on an object store).
    ``fork`` (branch creation only) records the three-way-merge base:
    the source branch, its version, and its table pins at fork time."""
    rec: dict = {"version": version, "tables": tables}
    if fork is not None:
        rec["fork"] = fork
    _publish_json(
        _branch_dir(root, branch),
        version,
        rec,
        f"catalog {branch!r} v{version} at {root!r} was published by "
        "a concurrent transaction; re-read the catalog and retry",
    )


def read_table_at_catalog(
    spark, root: str, name: str, path: str, *, branch: str = _MAIN
) -> DataFrame:
    """Snapshot-consistent read of table ``name`` THROUGH the catalog:
    scans exactly the files of the manifest version the latest committed
    catalog on ``branch`` pins — newer per-table publishes that no
    catalog transaction has committed (torn/in-flight transactions, or
    other branches' commits) are invisible."""
    _, tables = catalog_latest(root, branch)
    if name not in tables:
        raise KeyError(
            f"table {name!r} is not in the catalog at {root!r} "
            f"(branch {branch!r})"
        )
    files = manifest_files_at(path, tables[name])
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def txn_commit(
    spark,
    root: str,
    writes: list[tuple[str, str, DataFrame, str, str]],
    *,
    expected_catalog_version: int | None = None,
    branch: str = _MAIN,
) -> int:
    """Apply every ``(name, path, batch, key, precombine)`` write as one
    atomic cross-table transaction; returns the committed catalog
    version.

    Each table's indexed COW upsert stages + publishes its OWN next
    manifest version (invisible to catalog readers), then ONE catalog
    CAS pins them all. ``expected_catalog_version`` is the optimistic
    read-set check: pass the version the batch was computed against and
    the commit fails fast if another transaction committed in between
    (serializable against lost updates, Hudi-OCC style); None skips the
    check (blind writes).

    A crash after any per-table publish but before the catalog CAS
    leaves orphan manifest versions that no catalog pins — harmless
    (catalog readers never resolve them). Re-running the transaction
    claims fresh versions.

    ``branch`` commits to a named branch head (see :func:`create_branch`):
    each table merges from the version THE BRANCH pins (``base_version``)
    — never from another branch's latest — so branches are fully
    write-isolated until :func:`merge_branch`.

    A write may carry a sixth element naming a boolean delete-flag
    column (Hudi ``_hoodie_is_deleted`` semantics, see
    :func:`~.merge.merge_upsert`): flagged batch rows REMOVE their keys.
    This is the right-to-be-forgotten shape — erase a subject's rows
    from every table of the family in ONE atomic commit, so no reader
    ever sees the subject half-deleted. The erasure is logical: the
    pre-delete manifest versions stay on disk, and ``vacuum_orphans``
    never deletes a file any of them can still reach.
    """
    cv, tables = catalog_latest(root, branch)
    if branch != _MAIN and cv == 0:
        raise KeyError(f"branch {branch!r} does not exist at {root!r}")
    if (
        expected_catalog_version is not None
        and cv != expected_catalog_version
    ):
        raise ConcurrentCommitError(
            f"catalog {branch!r} at {root!r} moved from "
            f"v{expected_catalog_version} to v{cv} since this "
            "transaction's reads; retry against the new snapshot"
        )
    new_tables = dict(tables)
    for w in writes:
        name, path, batch, key, precombine = w[:5]
        delete_col = w[5] if len(w) > 5 else None
        # Pin the manifest version THE UPSERT ITSELF published — never a
        # re-read of the latest manifest: a concurrent per-table publish
        # landing between our commit and a re-read would be silently
        # adopted (and attested) by this transaction's catalog CAS.
        result = upsert_parquet_indexed(
            spark, batch, path, key, precombine,
            clean=False, base_version=tables.get(name),
            delete_col=delete_col,
        )
        new_tables[name] = result.version
    _catalog_publish(root, new_tables, cv + 1, branch=branch)  # ← commit
    return cv + 1


def create_branch(root: str, name: str) -> int:
    """Fork ``name`` off ``main``'s latest committed state —
    a Nessie/Iceberg-REST style zero-copy ref: the new branch's v1
    carries main's table pins plus a ``fork`` record (source
    branch, version, pins) that later serves as the three-way-merge
    base. Metadata-only; no data file is touched. CAS on the branch's
    v1 arbitrates duplicate creation."""
    if name == _MAIN:
        raise ValueError("'main' always exists; it cannot be created")
    sv, stables = catalog_latest(root, _MAIN)
    if sv == 0:
        raise KeyError(f"cannot branch off empty catalog {_MAIN!r} at {root!r}")
    _catalog_publish(
        root,
        dict(stables),
        1,
        branch=name,
        fork={"branch": _MAIN, "version": sv, "tables": dict(stables)},
    )
    return 1


def merge_branch(root: str, src: str) -> int:
    """Merge branch ``src`` into ``main`` with a TABLE-granularity
    three-way merge against the fork-point pins (Nessie's default
    content-unaware semantics):

    - table changed only on ``src``   → take src's pin (fast-forward)
    - table changed only on ``main``  → keep main's pin
    - both changed to the SAME pin    → either
    - both changed, different pins    → :class:`BranchMergeConflict`

    The result is ONE new CAS'd catalog version on ``main`` — the merge
    itself is a transaction, all-tables-or-nothing. Metadata-only:
    no data file moves (both branches' manifests already reference the
    shared file pool). Returns the new ``main`` version."""
    sv, srec = _catalog_read(root, src)
    if sv == 0:
        raise KeyError(f"branch {src!r} does not exist at {root!r}")
    # The fork record rides the branch's v1 (creation commit) only.
    with open(os.path.join(_branch_dir(root, src), "v1.json")) as fh:
        fork = json.load(fh).get("fork")
    if fork is None or fork["branch"] != _MAIN:
        raise ValueError(
            f"branch {src!r} did not fork off {_MAIN!r}; three-way merge "
            "base unavailable"
        )
    base = {k: int(v) for k, v in fork["tables"].items()}
    src_tables = {k: int(v) for k, v in srec.get("tables", {}).items()}
    dv, dst_tables = catalog_latest(root)
    merged: dict[str, int] = {}
    for t in sorted(set(base) | set(src_tables) | set(dst_tables)):
        b, s, d = base.get(t), src_tables.get(t), dst_tables.get(t)
        if s == b:
            pick = d  # src untouched → whatever main has now
        elif d == b or s == d:
            pick = s  # only src moved it (or both agree)
        else:
            raise BranchMergeConflict(
                f"table {t!r} changed on both {src!r} (v{b}->v{s}) and "
                f"{_MAIN!r} (v{b}->v{d}) since the fork; rebase {src!r}"
            )
        if pick is not None:
            merged[t] = pick
    _catalog_publish(root, merged, dv + 1, branch=_MAIN)  # ← commit point
    return dv + 1
