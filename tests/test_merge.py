"""Upsert/precombine merge semantics (SURVEY.md §1.4) — the reference's
core non-built-in behavior: insert-if-absent, overwrite-if-present,
larger-precombine-wins, convergence on rerun."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.merge import (
    merge_upsert,
    precombine_batch,
    read_indexed_table,
    table_live_files,
    table_record,
    upsert_parquet,
)
from spark_hudi_etl_pipeline_spark.session import local_frame


def rows_of(df):
    return {tuple(r) for r in df.collect()}


def assert_recorded_schema(spark, path):
    """A manifest-table read takes its schema from the manifest record;
    that schema must be the one Spark infers from the live files: names,
    types and nullability."""
    import os

    assert "schema" in table_record(path)
    files = [os.path.join(path, f) for f in table_live_files(path)[1]]
    inferred = spark.read.parquet(*files).schema
    recorded = read_indexed_table(spark, path).schema
    assert [(f.name, f.dataType, f.nullable) for f in recorded] == [
        (f.name, f.dataType, f.nullable) for f in inferred
    ]


@pytest.fixture()
def schema():
    return "k string, v string, prec long"


def test_precombine_collapses_batch_to_latest(spark, schema):
    batch = spark.createDataFrame(
        [("a", "old", 1), ("a", "new", 2), ("b", "only", 5)], schema
    )
    out = precombine_batch(batch, ["k"], "prec")
    assert rows_of(out) == {("a", "new", 2), ("b", "only", 5)}


def test_merge_insert_and_overwrite(spark, schema):
    existing = spark.createDataFrame([("a", "v1", 1), ("b", "v1", 1)], schema)
    batch = spark.createDataFrame([("b", "v2", 2), ("c", "v1", 1)], schema)
    out = merge_upsert(existing, batch, ["k"], "prec")
    assert rows_of(out) == {("a", "v1", 1), ("b", "v2", 2), ("c", "v1", 1)}


def test_merge_stale_batch_row_loses(spark, schema):
    existing = spark.createDataFrame([("a", "newer", 10)], schema)
    batch = spark.createDataFrame([("a", "stale", 5)], schema)
    out = merge_upsert(existing, batch, ["k"], "prec")
    assert rows_of(out) == {("a", "newer", 10)}


def test_merge_equal_precombine_batch_wins(spark, schema):
    # Hudi upsert overwrites on equal precombine — batch beats table.
    existing = spark.createDataFrame([("a", "table", 5)], schema)
    batch = spark.createDataFrame([("a", "batch", 5)], schema)
    out = merge_upsert(existing, batch, ["k"], "prec")
    assert rows_of(out) == {("a", "batch", 5)}


def test_merge_composite_key(spark):
    schema = "k1 string, k2 int, v string, prec long"
    existing = spark.createDataFrame([("p", 1, "v1", 1), ("p", 2, "v1", 1)], schema)
    batch = spark.createDataFrame([("p", 2, "v2", 2), ("q", 1, "v1", 1)], schema)
    out = merge_upsert(existing, batch, ["k1", "k2"], "prec")
    assert rows_of(out) == {
        ("p", 1, "v1", 1),
        ("p", 2, "v2", 2),
        ("q", 1, "v1", 1),
    }


def test_upsert_parquet_converges_on_rerun(spark, tmp_table, schema):
    """Idempotence-by-construction (README.md:80-84): re-writing the same
    batch leaves the table unchanged."""
    batch = spark.createDataFrame([("a", "v1", 1), ("b", "v1", 1)], schema)
    n1 = upsert_parquet(spark, batch, tmp_table, keys=["k"], precombine="prec")
    n2 = upsert_parquet(spark, batch, tmp_table, keys=["k"], precombine="prec")
    assert n1 == n2 == 2
    assert rows_of(spark.read.parquet(tmp_table)) == {("a", "v1", 1), ("b", "v1", 1)}
    assert_recorded_schema(spark, tmp_table)


def test_upsert_parquet_incremental_update(spark, tmp_table, schema):
    b1 = spark.createDataFrame([("a", "v1", 1), ("b", "v1", 1)], schema)
    b2 = spark.createDataFrame([("b", "v2", 2), ("c", "v1", 1)], schema)
    upsert_parquet(spark, b1, tmp_table, keys=["k"], precombine="prec")
    upsert_parquet(spark, b2, tmp_table, keys=["k"], precombine="prec")
    assert rows_of(spark.read.parquet(tmp_table)) == {
        ("a", "v1", 1),
        ("b", "v2", 2),
        ("c", "v1", 1),
    }
    assert_recorded_schema(spark, tmp_table)


def test_upsert_parquet_rewrite_does_not_add_a_file_per_batch(spark, tmp_table, schema):
    """The full rewrite is coalesced to ceil(bytes / maxPartitionBytes)
    files: ten small upserts leave one live file, and the cleaner leaves
    no other data file in the directory."""
    import glob
    import os

    for i in range(10):
        batch = local_frame(spark, [(f"k{i}", "v", i)], schema)
        upsert_parquet(spark, batch, tmp_table, keys=["k"], precombine="prec")
    version, live = table_live_files(tmp_table)
    assert version == 10 and len(live) == 1
    on_disk = [os.path.basename(f) for f in glob.glob(f"{tmp_table}/*.parquet")]
    assert on_disk == live
    assert read_indexed_table(spark, tmp_table).count() == 10
    assert_recorded_schema(spark, tmp_table)


def test_merge_first_write(spark, schema):
    batch = spark.createDataFrame([("a", "v", 2), ("a", "v0", 1)], schema)
    out = merge_upsert(None, batch, ["k"], "prec")
    assert rows_of(out) == {("a", "v", 2)}


def test_merge_delete_records(spark):
    """Hudi _hoodie_is_deleted semantics: a winning delete removes the
    key, a stale delete is ignored, the flag never lands in the table."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert

    existing = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k int, v string, pc int"
    )
    batch = spark.createDataFrame(
        [
            (1, "x", 20, False),  # normal update
            (2, "-", 20, True),   # newer delete: key 2 removed
            (3, "-", 5, True),    # stale delete: ignored, key 3 survives
            (4, "d", 20, True),   # delete for absent key: no-op insert-less
            (5, "e", 20, False),  # plain insert
        ],
        "k int, v string, pc int, deleted boolean",
    )
    out = merge_upsert(existing, batch, ["k"], "pc", delete_col="deleted")
    assert "deleted" not in out.columns
    got = {r["k"]: (r["v"], r["pc"]) for r in out.collect()}
    assert got == {1: ("x", 20), 3: ("c", 10), 5: ("e", 20)}


def test_merge_delete_in_batch_precedence(spark):
    """Within one batch, delete-vs-update resolves by precombine before
    the table merge: newest wins whether or not it is a delete."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert

    existing = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k int, v string, pc int")
    batch = spark.createDataFrame(
        [
            (1, "new", 30, False), (1, "-", 20, True),   # update newer than delete: kept
            (2, "-", 30, True), (2, "upd", 20, False),   # delete newer than update: gone
        ],
        "k int, v string, pc int, deleted boolean",
    )
    out = merge_upsert(existing, batch, ["k"], "pc", delete_col="deleted")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new"}


def test_upsert_parquet_delete_col(spark, tmp_path):
    from spark_hudi_etl_pipeline_spark.operators.merge import upsert_parquet

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(1, "a", 10, False), (2, "b", 10, True)], "k int, v string, pc int, del boolean"
    )
    # First write: delete records never materialize.
    n = upsert_parquet(spark, b1, path, ["k"], "pc", delete_col="del")
    assert n == 1
    b2 = spark.createDataFrame([(1, "-", 20, True)], "k int, v string, pc int, del boolean")
    n = upsert_parquet(spark, b2, path, ["k"], "pc", delete_col="del")
    assert n == 0
    assert_recorded_schema(spark, path)


def test_partial_update_fills_nulls_from_existing(spark):
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert

    existing = spark.createDataFrame(
        [(1, 1, 100.0, "x"), (2, 1, 200.0, "y")],
        "k int, v int, price double, tag string",
    )
    batch = spark.createDataFrame(
        [(1, 2, None, "z"),      # update: price absent -> keep 100.0
         (3, 2, 300.0, None)],   # insert: tag absent -> stays null
        "k int, v int, price double, tag string",
    )
    got = {
        r["k"]: (r["v"], r["price"], r["tag"])
        for r in merge_upsert(
            existing, batch, ["k"], "v", partial_update=True
        ).collect()
    }
    assert got == {1: (2, 100.0, "z"), 2: (1, 200.0, "y"), 3: (2, 300.0, None)}


def test_partial_update_stale_batch_ignored(spark):
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert

    existing = spark.createDataFrame(
        [(1, 5, 100.0)], "k int, v int, price double"
    )
    batch = spark.createDataFrame(
        [(1, 3, None)], "k int, v int, price double"  # older precombine
    )
    got = merge_upsert(existing, batch, ["k"], "v", partial_update=True).collect()
    assert [(r["k"], r["v"], r["price"]) for r in got] == [(1, 5, 100.0)]


def test_partial_update_with_delete_records(spark):
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert

    existing = spark.createDataFrame(
        [(1, 1, 100.0), (2, 1, 200.0)], "k int, v int, price double"
    )
    batch = spark.createDataFrame(
        [(1, 2, None, True), (2, 2, None, False)],
        "k int, v int, price double, deleted boolean",
    )
    got = merge_upsert(
        existing, batch, ["k"], "v", delete_col="deleted", partial_update=True
    ).collect()
    # Key 1 deleted; key 2's price filled from the table.
    assert [(r["k"], r["v"], r["price"]) for r in got] == [(2, 2, 200.0)]


def test_manifest_publish_is_compare_and_swap(spark, tmp_path):
    """Optimistic concurrency: two writers racing for the same manifest
    version — exactly one wins, the loser gets ConcurrentCommitError and
    must retry from the new latest manifest."""
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        ConcurrentCommitError,
        _manifest_publish,
    )

    path = str(tmp_path / "t")
    import os

    os.makedirs(path)
    _manifest_publish(path, ["a.parquet"], 1)
    _manifest_publish(path, ["a.parquet", "b.parquet"], 2)
    with pytest.raises(ConcurrentCommitError, match="concurrent writer"):
        _manifest_publish(path, ["a.parquet", "c.parquet"], 2)
    # The winner's manifest is untouched by the failed publish.
    assert table_live_files(path) == (2, ["a.parquet", "b.parquet"])


def test_cleaner_spares_a_concurrent_writers_moved_in_file(spark, tmp_path, monkeypatch):
    """Writer B moves its file in right after writer A's publish, and
    publishes after A's post-commit cleaner has run. The cleaner deletes
    only the files A's commit replaced, so B's publish succeeds and the
    table holds both writers' rows."""
    import threading

    from spark_hudi_etl_pipeline_spark.operators import merge

    path = str(tmp_path / "t")
    schema = "k string, v string, prec long"

    def write(rows):
        upsert_parquet(spark, local_frame(spark, rows, schema), path, ["k"], "prec")

    write([("a", "v0", 0)])
    real = merge._manifest_publish
    writer_a = threading.current_thread()
    b_moved_in, a_done = threading.Event(), threading.Event()
    b_errors: list[BaseException] = []

    def writer_b():
        try:
            write([("b", "v1", 1)])
        except BaseException as exc:
            b_errors.append(exc)
            b_moved_in.set()

    b = threading.Thread(target=writer_b)

    def publish(path_, files, version, extra=None):
        if threading.current_thread() is writer_a:
            real(path_, files, version, extra)  # A's commit point
            b.start()  # B reads A's version, stages and moves its file in
            assert b_moved_in.wait(timeout=300)
        else:
            b_moved_in.set()
            assert a_done.wait(timeout=300)  # A's cleaner has run
            real(path_, files, version, extra)

    monkeypatch.setattr(merge, "_manifest_publish", publish)
    write([("a", "v1", 1)])
    a_done.set()
    b.join(timeout=300)
    assert not b.is_alive() and not b_errors
    assert rows_of(read_indexed_table(spark, path)) == {("a", "v1", 1), ("b", "v1", 1)}


def test_merge_into_all_three_arms(spark):
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    t = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k int, v int, tag string"
    )
    s = spark.createDataFrame(
        [(1, 100, "upd"), (3, 0, "del"), (9, 900, "new")],
        "k int, v int, tag string",
    )
    out = merge_into(
        t, s, ["k"],
        when_matched_update={"v": "t.v + s.v", "tag": "s.tag"},
        when_matched_delete="s.tag = 'del'",
        when_not_matched_insert=True,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 110, "upd"), (2, 20, "b"), (9, 900, "new"),
    ]


def test_merge_into_no_insert_and_update_only(spark):
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    t = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    s = spark.createDataFrame([(2, 99), (7, 70)], "k int, v int")
    out = merge_into(
        t, s, ["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, 10), (2, 99)]


def test_merge_into_multi_match_raises(spark):
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    t = spark.createDataFrame([(1, 10)], "k int, v int")
    s = spark.createDataFrame([(1, 1), (1, 2)], "k int, v int")
    with pytest.raises(Exception, match="multiple source rows"):
        merge_into(t, s, ["k"], when_matched_update={"v": "s.v"}).collect()


def test_merge_into_insert_expressions(spark):
    """when_not_matched_insert as a dict: per-column expressions over
    the source row; unlisted target columns insert NULL."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    t = spark.createDataFrame([(1, 10, "a")], "k int, v int, tag string")
    s = spark.createDataFrame([(9, 5)], "k int, amount int")
    out = merge_into(
        t, s, ["k"],
        when_not_matched_insert={"v": "s.amount * 2"},
    )
    got = sorted(
        ((r["k"], r["v"], r["tag"]) for r in out.collect()), key=lambda t: t[0]
    )
    assert got == [(1, 10, "a"), (9, 10, None)]


def test_merge_into_null_delete_condition_updates(spark):
    """ANSI MERGE / Delta: a delete condition that evaluates to NULL is
    NOT satisfied — the update arm applies instead of the row being
    silently dropped."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    t = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    # flag is NULL for k=1 → 's.flag = 1' is NULL → update, not delete.
    s = spark.createDataFrame([(1, 100, None), (2, 200, 1)], "k int, v int, flag int")
    out = merge_into(
        t, s.select("k", "v", "flag"), ["k"],
        when_matched_update={"v": "s.v"},
        when_matched_delete="s.flag = 1",
        when_not_matched_insert=False,
    )
    assert sorted(tuple(r) for r in out.select("k", "v").collect()) == [(1, 100)]


def test_flat_precombine_hot_key(spark):
    """A single key holding most of the batch: the winner is its
    max-precombine row and every other key keeps its one row."""
    from spark_hudi_etl_pipeline_spark.operators.merge import precombine_batch

    rows = [(1, i, f"v{i}") for i in range(500)] + [
        (k, 0, f"w{k}") for k in range(2, 10)
    ]
    batch = spark.createDataFrame(rows, "k int, prec int, v string")
    flat = {tuple(r) for r in precombine_batch(batch, ["k"], "prec").collect()}
    assert (1, 499, "v499") in flat and len(flat) == 9


def test_flat_precombine_plans_window_group_limit(spark):
    """The measured reason the precombine needs no salted path (SCALE.md
    §hot-key upsert probe): Spark plans the rank<=1 filter as a
    Partial+Final WindowGroupLimit — map-side top-1-per-key before the
    shuffle. Pin it so an engine upgrade that drops the rewrite is a
    visible test failure, not a silent skew regression."""
    from spark_hudi_etl_pipeline_spark.operators.merge import precombine_batch

    b = spark.createDataFrame([(1, 2, 3)], "k int, c int, prec long")
    plan = (
        precombine_batch(b, ["k"], "prec")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan and "Final" in plan, plan
