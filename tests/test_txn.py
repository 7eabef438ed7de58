"""Atomic multi-table transactions (operators/txn.py): the catalog CAS
is the single commit point across tables — torn per-table publishes are
invisible to catalog readers, concurrent transactions serialize through
the catalog version, and the read-set check rejects lost updates."""

from __future__ import annotations

import pytest

from spark_hudi_etl_pipeline_spark.operators.merge import (
    ConcurrentCommitError,
    upsert_parquet_indexed,
)
from spark_hudi_etl_pipeline_spark.operators.txn import (
    BranchMergeConflict,
    _catalog_publish,
    catalog_latest,
    create_branch,
    delete_branch,
    merge_branch,
    read_table_at_catalog,
    txn_commit,
)

SCHEMA = "k long, v string, prec long"


def rows_of(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def cat(spark, tmp_path):
    """A catalog with two tables seeded in one transaction."""
    root = str(tmp_path / "cat")
    a, b = str(tmp_path / "ta"), str(tmp_path / "tb")
    t1 = spark.createDataFrame([(1, "a1", 10), (2, "a2", 10)], SCHEMA)
    t2 = spark.createDataFrame([(1, "b1", 10)], SCHEMA)
    v = txn_commit(
        spark,
        root,
        [("ta", a, t1, "k", "prec"), ("tb", b, t2, "k", "prec")],
    )
    assert v == 1
    return root, a, b


def test_txn_updates_all_tables_atomically(spark, cat):
    root, a, b = cat
    u1 = spark.createDataFrame([(2, "a2x", 20)], SCHEMA)
    u2 = spark.createDataFrame([(1, "b1x", 20)], SCHEMA)
    v = txn_commit(
        spark, root, [("ta", a, u1, "k", "prec"), ("tb", b, u2, "k", "prec")]
    )
    assert v == 2
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "a1", 10),
        (2, "a2x", 20),
    }
    assert rows_of(read_table_at_catalog(spark, root, "tb", b)) == {
        (1, "b1x", 20)
    }


def test_torn_publish_is_invisible_to_catalog_readers(spark, cat):
    root, a, b = cat
    before_a = rows_of(read_table_at_catalog(spark, root, "ta", a))
    # Simulate a transaction that crashed AFTER table ta's per-table
    # manifest publish but BEFORE the catalog CAS: the table's own
    # latest manifest advances, the catalog does not.
    torn = spark.createDataFrame([(1, "TORN", 99)], SCHEMA)
    upsert_parquet_indexed(spark, torn, a, "k", "prec", clean=False)
    cv, tables = catalog_latest(root)
    assert cv == 1
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == before_a
    # Recovery: re-running the full transaction commits both tables and
    # the change appears exactly once.
    u2 = spark.createDataFrame([(1, "b-go", 30)], SCHEMA)
    txn_commit(
        spark,
        root,
        [("ta", a, torn, "k", "prec"), ("tb", b, u2, "k", "prec")],
    )
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "TORN", 99),
        (2, "a2", 10),
    }


def test_catalog_cas_rejects_concurrent_version(spark, cat):
    root, _, _ = cat
    with pytest.raises(ConcurrentCommitError, match="concurrent"):
        _catalog_publish(root, {"ta": 1}, 1)


def test_read_set_check_rejects_stale_transaction(spark, cat):
    root, a, b = cat
    u = spark.createDataFrame([(2, "win", 20)], SCHEMA)
    txn_commit(spark, root, [("ta", a, u, "k", "prec")])  # cv -> 2
    stale = spark.createDataFrame([(2, "lose", 21)], SCHEMA)
    with pytest.raises(ConcurrentCommitError, match="moved"):
        txn_commit(
            spark,
            root,
            [("ta", a, stale, "k", "prec")],
            expected_catalog_version=1,
        )


def test_unknown_table_and_fresh_catalog(spark, cat, tmp_path):
    root, a, _ = cat
    with pytest.raises(KeyError):
        read_table_at_catalog(spark, root, "nope", a)
    assert catalog_latest(str(tmp_path / "fresh")) == (0, {})


def test_txn_delete_records_across_tables(spark, cat):
    """Right-to-be-forgotten shape: flagged delete records erase a
    subject's keys from BOTH tables in one atomic commit."""
    root, a, b = cat
    da = spark.createDataFrame([(1, "a1", 10, True)], SCHEMA + ", gone boolean")
    db = spark.createDataFrame([(1, "b1", 10, True)], SCHEMA + ", gone boolean")
    txn_commit(
        spark,
        root,
        [("ta", a, da, "k", "prec", "gone"), ("tb", b, db, "k", "prec", "gone")],
    )
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {(2, "a2", 10)}
    assert rows_of(read_table_at_catalog(spark, root, "tb", b)) == set()


def test_branch_write_isolation_and_merge(spark, cat):
    root, a, b = cat
    assert create_branch(root, "dev") == 1
    # Branch write to ta: invisible on main, visible on dev.
    u = spark.createDataFrame([(2, "dev-edit", 20)], SCHEMA)
    txn_commit(spark, root, [("ta", a, u, "k", "prec")], branch="dev")
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "a1", 10),
        (2, "a2", 10),
    }
    assert rows_of(
        read_table_at_catalog(spark, root, "ta", a, branch="dev")
    ) == {(1, "a1", 10), (2, "dev-edit", 20)}
    # Main writes a DIFFERENT table meanwhile: no conflict.
    m = spark.createDataFrame([(7, "b-main", 20)], SCHEMA)
    txn_commit(spark, root, [("tb", b, m, "k", "prec")])
    merge_branch(root, "dev")
    # Post-merge main sees BOTH: dev's ta edit and its own tb write.
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "a1", 10),
        (2, "dev-edit", 20),
    }
    assert rows_of(read_table_at_catalog(spark, root, "tb", b)) == {
        (1, "b1", 10),
        (7, "b-main", 20),
    }


def test_branches_same_table_do_not_see_each_other(spark, cat):
    root, a, _ = cat
    create_branch(root, "x")
    create_branch(root, "y")
    ux = spark.createDataFrame([(1, "from-x", 20)], SCHEMA)
    uy = spark.createDataFrame([(2, "from-y", 20)], SCHEMA)
    txn_commit(spark, root, [("ta", a, ux, "k", "prec")], branch="x")
    txn_commit(spark, root, [("ta", a, uy, "k", "prec")], branch="y")
    # Each branch merged from ITS pinned snapshot, not the other's head.
    assert rows_of(
        read_table_at_catalog(spark, root, "ta", a, branch="x")
    ) == {(1, "from-x", 20), (2, "a2", 10)}
    assert rows_of(
        read_table_at_catalog(spark, root, "ta", a, branch="y")
    ) == {(1, "a1", 10), (2, "from-y", 20)}


def test_merge_conflict_on_both_sides_changed(spark, cat):
    root, a, _ = cat
    create_branch(root, "dev")
    u1 = spark.createDataFrame([(1, "dev", 20)], SCHEMA)
    u2 = spark.createDataFrame([(1, "main", 21)], SCHEMA)
    txn_commit(spark, root, [("ta", a, u1, "k", "prec")], branch="dev")
    txn_commit(spark, root, [("ta", a, u2, "k", "prec")])
    with pytest.raises(BranchMergeConflict, match="ta"):
        merge_branch(root, "dev")


def test_branch_ref_rules(spark, cat, tmp_path):
    root, a, _ = cat
    with pytest.raises(ValueError):
        create_branch(root, "main")
    with pytest.raises(KeyError):
        create_branch(str(tmp_path / "empty"), "dev")
    with pytest.raises(KeyError):
        txn_commit(
            spark,
            root,
            [("ta", a, spark.createDataFrame([(9, "z", 1)], SCHEMA), "k", "prec")],
            branch="ghost",
        )
    create_branch(root, "dead")
    delete_branch(root, "dead")
    with pytest.raises(KeyError):
        read_table_at_catalog(spark, root, "ta", a, branch="dead")
    with pytest.raises(ValueError):
        delete_branch(root, "main")
    with pytest.raises(ValueError):
        merge_branch(root, "main")  # main has no fork record


def test_txn_pins_the_version_its_own_upsert_published(spark, cat, monkeypatch):
    """A concurrent per-table publish landing between a transaction's
    upsert and its catalog CAS must NOT be adopted: the catalog pins the
    manifest version the upsert itself returned (r7 ADVICE, txn.py:220)."""
    import spark_hudi_etl_pipeline_spark.operators.txn as txn_mod
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        _manifest_publish,
        manifest_files_at,
        table_live_files,
    )

    root, a, b = cat
    real = upsert_parquet_indexed

    def upsert_then_interloper(spark_, batch, path, key, precombine, **kw):
        res = real(spark_, batch, path, key, precombine, **kw)
        # Interloper: another writer publishes the NEXT version (same
        # files — content is irrelevant, the pin is what matters).
        _manifest_publish(
            path, manifest_files_at(path, res.version), res.version + 1
        )
        return res

    monkeypatch.setattr(txn_mod, "upsert_parquet_indexed", upsert_then_interloper)
    u = spark.createDataFrame([(2, "mine", 20)], SCHEMA)
    txn_commit(spark, root, [("ta", a, u, "k", "prec")])
    _, tables = catalog_latest(root)
    latest_v, _ = table_live_files(a)
    assert tables["ta"] == latest_v - 1  # pinned OUR publish, not the interloper's


def test_catalog_reclaim_honors_branch_and_snapshot_pins(spark, cat):
    """End-to-end reclamation: retire_manifests + vacuum_orphans via
    catalog_reclaim never delete anything a catalog version, branch
    head, or fork base can still resolve (r7 ADVICE high: vacuum must
    not break committed snapshot reads)."""
    import glob
    import os

    from spark_hudi_etl_pipeline_spark.operators.txn import (
        catalog_pinned_versions,
        catalog_reclaim,
    )

    root, a, b = cat
    # Branch pins ta@v1; main moves ta twice more (v2, v3).
    create_branch(root, "audit")
    branch_rows = rows_of(read_table_at_catalog(spark, root, "ta", a, branch="audit"))
    for s in ("m2", "m3"):
        u = spark.createDataFrame([(1, s, 99)], SCHEMA)
        txn_commit(spark, root, [("ta", a, u, "k", "prec")])
    pins = catalog_pinned_versions(root)
    assert 1 in pins["ta"] and max(pins["ta"]) >= 3
    # Age every data file past the retention floor so only pins protect.
    for f in glob.glob(os.path.join(a, "*.parquet")):
        os.utime(f, (0, 0))
    out = catalog_reclaim(root, {"ta": a, "tb": b}, min_age_seconds=60)
    # Every pinned version survived; reads on BOTH refs are unchanged.
    assert rows_of(
        read_table_at_catalog(spark, root, "ta", a, branch="audit")
    ) == branch_rows
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "m3", 99),
        (2, "a2", 10),
    }
    # Now delete the branch and its old catalog versions: v1 becomes
    # retirable, and reclaim removes the files only v1 held.
    delete_branch(root, "audit")
    cdir = os.path.join(root, "_catalog")
    for f in os.listdir(cdir):
        if f.startswith("v") and f.endswith(".json") and f != "v3.json":
            os.remove(os.path.join(cdir, f))
    for f in glob.glob(os.path.join(a, "*.parquet")):
        os.utime(f, (0, 0))
    retired, removed = catalog_reclaim(
        root, {"ta": a}, min_age_seconds=60
    )["ta"]
    assert retired  # old history actually went away
    assert rows_of(read_table_at_catalog(spark, root, "ta", a)) == {
        (1, "m3", 99),
        (2, "a2", 10),
    }
