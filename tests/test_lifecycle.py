"""Table-lifecycle operators: savepoint/restore/rollback, the cleaner,
the Hudi write-operation types (insert_overwrite, delete_partition,
bulk_insert sort modes), and the GLOBAL-index upsert's partition-move
semantics (operators/tableops.py, operators/timeline.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.clustering import file_column_bounds
from spark_hudi_etl_pipeline_spark.operators.tableops import (
    bulk_insert,
    delete_partitions,
    insert_overwrite,
    upsert_parquet_partitioned_global,
)
from spark_hudi_etl_pipeline_spark.operators.merge import (
    upsert_parquet_partitioned,
)
from spark_hudi_etl_pipeline_spark.operators.timeline import (
    clean_timeline,
    commit_append,
    commit_instants,
    compaction_instants,
    read_as_of,
    read_realtime,
    restore_to,
    rollback_last,
    savepoint,
    savepoints,
)
from tests.conftest import jobs_in

KEYS = ["k"]
PRE = "v"


def _rows(df):
    return {tuple(r) for r in df.select("k", "v", "p").collect()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v int, p string")


# ---------------------------------------------------------------- timeline


def _build_timeline(spark, path):
    commit_append(spark, _mk(spark, [(1, 10, "a"), (2, 10, "a"), (3, 10, "b")]), path, 1)
    commit_append(spark, _mk(spark, [(1, 20, "a"), (4, 20, "b")]), path, 2)
    commit_append(spark, _mk(spark, [(2, 30, "b"), (5, 30, "a")]), path, 3)


def test_savepoint_requires_commit(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    with pytest.raises(ValueError, match="not a commit"):
        savepoint(spark, tmp_table, 99)
    savepoint(spark, tmp_table, 2)
    assert savepoints(tmp_table) == [2]


def test_restore_rewinds_to_instant(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    before = _rows(read_as_of(spark, tmp_table, KEYS, PRE, 2))
    dropped = restore_to(spark, tmp_table, 2)
    assert dropped == [3]
    assert commit_instants(spark, tmp_table) == [1, 2]
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == before


def test_restore_refuses_past_compaction(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import compact_timeline

    _build_timeline(spark, tmp_table)
    compact_timeline(spark, tmp_table, KEYS, PRE, 2)
    with pytest.raises(ValueError, match="collapsed"):
        restore_to(spark, tmp_table, 1)
    # Restoring to the base itself is fine.
    restore_to(spark, tmp_table, 2)
    assert commit_instants(spark, tmp_table) == [2]


def test_rollback_last_commit(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    assert rollback_last(spark, tmp_table) == 3
    assert commit_instants(spark, tmp_table) == [1, 2]
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == {
        (1, 20, "a"), (2, 10, "a"), (3, 10, "b"), (4, 20, "b"),
    }


def test_rollback_refuses_compacted_base(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import compact_timeline

    _build_timeline(spark, tmp_table)
    compact_timeline(spark, tmp_table, KEYS, PRE, 3)
    with pytest.raises(ValueError, match="compacted base"):
        rollback_last(spark, tmp_table)


def test_cleaner_preserves_current_state(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    before = _rows(read_realtime(spark, tmp_table, KEYS, PRE))
    horizon = clean_timeline(spark, tmp_table, KEYS, PRE, retain_last=2)
    assert horizon == 2
    assert commit_instants(spark, tmp_table) == [2, 3]
    assert compaction_instants(tmp_table) == [2]
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == before
    # As-of at/after the horizon still works; before it is gone.
    assert _rows(read_as_of(spark, tmp_table, KEYS, PRE, 2)) == {
        (1, 20, "a"), (2, 10, "a"), (3, 10, "b"), (4, 20, "b"),
    }


def test_cleaner_noop_when_short(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    assert clean_timeline(spark, tmp_table, KEYS, PRE, retain_last=3) is None
    assert commit_instants(spark, tmp_table) == [1, 2, 3]


def test_cleaner_respects_savepoint(spark, tmp_table):
    _build_timeline(spark, tmp_table)
    savepoint(spark, tmp_table, 1)
    # retain_last=1 would collapse up to instant 3, but the savepoint at
    # 1 clamps the horizon to 1 — nothing older than 1 exists, so no-op.
    assert clean_timeline(spark, tmp_table, KEYS, PRE, retain_last=1) is None
    assert commit_instants(spark, tmp_table) == [1, 2, 3]


# ---------------------------------------------------------- operation types


def test_insert_overwrite_replaces_only_batch_partitions(spark, tmp_table):
    base = _mk(spark, [(1, 1, "a"), (2, 2, "a"), (3, 3, "b"), (4, 4, "c")])
    base.write.mode("overwrite").partitionBy("p").parquet(tmp_table)
    untouched = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{tmp_table}/p=b/*.parquet")
        + glob.glob(f"{tmp_table}/p=c/*.parquet")
    }
    n = insert_overwrite(
        spark, _mk(spark, [(9, 9, "a")]).select("k", "v", "p"), tmp_table, "p"
    )
    assert n == 1
    got = _rows(spark.read.parquet(tmp_table))
    assert got == {(9, 9, "a"), (3, 3, "b"), (4, 4, "c")}
    # Untouched partitions keep their exact files.
    assert untouched == {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{tmp_table}/p=b/*.parquet")
        + glob.glob(f"{tmp_table}/p=c/*.parquet")
    }


def test_delete_partitions_idempotent(spark, tmp_table):
    base = _mk(spark, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")])
    base.write.mode("overwrite").partitionBy("p").parquet(tmp_table)
    assert delete_partitions(spark, tmp_table, "p", ["b", "nope"]) == ["b"]
    assert delete_partitions(spark, tmp_table, "p", ["b"]) == []
    assert _rows(spark.read.parquet(tmp_table)) == {(1, 1, "a"), (3, 3, "c")}
    with pytest.raises(ValueError, match="null partition"):
        delete_partitions(spark, tmp_table, "p", [None])


def test_bulk_insert_global_sort_disjoint_ranges(spark, tmp_table):
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    bulk_insert(spark, df, tmp_table, sort_cols=["k"], mode="GLOBAL_SORT", n_files=8)
    bounds = sorted(
        (b["k"][0], b["k"][1])
        for b in file_column_bounds(tmp_table, ["k"])
        if b["k"][0] is not None
    )
    assert len(bounds) >= 2
    for (lo1, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi1 < lo2, f"overlapping file ranges {hi1} >= {lo2}"
    assert spark.read.parquet(tmp_table).count() == 10000


def test_bulk_insert_none_keeps_content(spark, tmp_table):
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    n = bulk_insert(spark, df, tmp_table, mode="NONE")
    assert n == 1000
    with pytest.raises(ValueError, match="sort_cols"):
        bulk_insert(spark, df, tmp_table, mode="GLOBAL_SORT")
    with pytest.raises(ValueError, match="mode"):
        bulk_insert(spark, df, tmp_table, mode="ZORDER")


# ------------------------------------------------------- global-index upsert


def test_global_upsert_moves_record_across_partitions(spark, tmp_table):
    base = _mk(spark, [(1, 10, "a"), (2, 10, "a"), (3, 10, "b")])
    upsert_parquet_partitioned_global(spark, base, tmp_table, KEYS, PRE, "p")
    # Key 1 moves a → b (newer precombine); key 4 inserts into c.
    batch = _mk(spark, [(1, 20, "b"), (4, 20, "c")])
    upsert_parquet_partitioned_global(spark, batch, tmp_table, KEYS, PRE, "p")
    got = _rows(spark.read.parquet(tmp_table))
    assert got == {(1, 20, "b"), (2, 10, "a"), (3, 10, "b"), (4, 20, "c")}
    # ONE row for key 1 — the non-global writer would have kept both.
    nonglobal = str(tmp_table) + "_ng"
    upsert_parquet_partitioned(spark, base, nonglobal, KEYS, PRE, "p")
    upsert_parquet_partitioned(spark, batch, nonglobal, KEYS, PRE, "p")
    assert (1, 10, "a") in _rows(spark.read.parquet(nonglobal))  # the dup


def test_global_upsert_drops_emptied_partition(spark, tmp_table):
    base = _mk(spark, [(1, 10, "a"), (2, 10, "b")])
    upsert_parquet_partitioned_global(spark, base, tmp_table, KEYS, PRE, "p")
    # Partition a's only row moves out — its directory must be dropped.
    upsert_parquet_partitioned_global(
        spark, _mk(spark, [(1, 20, "b")]), tmp_table, KEYS, PRE, "p"
    )
    assert not os.path.isdir(f"{tmp_table}/p=a")
    assert _rows(spark.read.parquet(tmp_table)) == {(1, 20, "b"), (2, 10, "b")}


def test_global_upsert_stale_update_loses(spark, tmp_table):
    base = _mk(spark, [(1, 10, "a")])
    upsert_parquet_partitioned_global(spark, base, tmp_table, KEYS, PRE, "p")
    # Stale move (older precombine) must NOT move or change the record.
    upsert_parquet_partitioned_global(
        spark, _mk(spark, [(1, 5, "b")]), tmp_table, KEYS, PRE, "p"
    )
    assert _rows(spark.read.parquet(tmp_table)) == {(1, 10, "a")}
    assert not os.path.isdir(f"{tmp_table}/p=b")


def test_global_upsert_delete_records(spark, tmp_table):
    base = _mk(spark, [(1, 10, "a"), (2, 10, "b")])
    upsert_parquet_partitioned_global(spark, base, tmp_table, KEYS, PRE, "p")
    batch = spark.createDataFrame(
        [(1, 20, "a", True)], "k int, v int, p string, deleted boolean"
    )
    upsert_parquet_partitioned_global(
        spark, batch, tmp_table, KEYS, PRE, "p", delete_col="deleted"
    )
    assert _rows(spark.read.parquet(tmp_table)) == {(2, 10, "b")}
    assert not os.path.isdir(f"{tmp_table}/p=a")


def test_global_upsert_untouched_partition_files_kept(spark, tmp_table):
    base = _mk(
        spark, [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")]
    )
    upsert_parquet_partitioned_global(spark, base, tmp_table, KEYS, PRE, "p")
    untouched = {
        f: os.path.getmtime(f) for f in glob.glob(f"{tmp_table}/p=c/*.parquet")
    }
    upsert_parquet_partitioned_global(
        spark, _mk(spark, [(1, 20, "b")]), tmp_table, KEYS, PRE, "p"
    )
    assert untouched == {
        f: os.path.getmtime(f) for f in glob.glob(f"{tmp_table}/p=c/*.parquet")
    }


# ------------------------------------------------------ timeline CDC


def test_timeline_cdc_change_classification(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import timeline_cdc

    commit_append(
        spark,
        spark.createDataFrame(
            [(1, 10, "a", False), (2, 10, "a", False), (3, 10, "b", False)],
            "k int, v int, p string, deleted boolean",
        ),
        tmp_table,
        1,
    )
    commit_append(
        spark,
        spark.createDataFrame(
            [
                (1, 20, "a", False),   # update
                (2, 20, "a", True),    # delete
                (4, 20, "c", False),   # insert
                (3, 20, "b", True),    # delete beaten in-commit...
                (3, 30, "b", False),   # ...by a newer update
            ],
            "k int, v int, p string, deleted boolean",
        ),
        tmp_table,
        2,
    )
    got = {
        r["k"]: r["change_type"]
        for r in timeline_cdc(
            spark, tmp_table, ["k"], "v", since=1, delete_col="deleted"
        ).collect()
    }
    assert got == {1: "update", 2: "delete", 3: "update", 4: "insert"}


def test_timeline_cdc_unchanged_reupsert_silent(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import timeline_cdc

    commit_append(
        spark,
        spark.createDataFrame([(1, 10, "a")], "k int, v int, p string"),
        tmp_table,
        1,
    )
    # Same key, same values, same precombine — re-upserted verbatim.
    commit_append(
        spark,
        spark.createDataFrame([(1, 10, "a")], "k int, v int, p string"),
        tmp_table,
        2,
    )
    assert timeline_cdc(spark, tmp_table, ["k"], "v", since=1).count() == 0


def test_timeline_cdc_bounded_window(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import timeline_cdc

    _build_timeline(spark, tmp_table)  # commits 1..3
    got = {
        r["k"]: r["change_type"]
        for r in timeline_cdc(spark, tmp_table, ["k"], "v", since=1, as_of=2).collect()
    }
    # Window (1,2]: key 1 updated (10→20), key 4 inserted; commit 3 invisible.
    assert got == {1: "update", 4: "insert"}


# ------------------------------------------------- indexed point lookup


def test_point_lookup_bloom_prunes_files(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_point_lookup,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    upsert_parquet_bloom_indexed(
        spark, df.repartition(16, "k"), tmp_table, "k", "v"
    )
    out = read_point_lookup(spark, tmp_table, "k", [5, 7777])
    assert {tuple(r) for r in out.collect()} == {(5, 10), (7777, 15554)}
    n_total = len(glob.glob(f"{tmp_table}/*.parquet"))
    assert n_total >= 8
    # Bloom pruning: the lookup scanned a strict subset of the files.
    assert 0 < len(out.inputFiles()) < n_total


def test_point_lookup_range_prunes_on_clustered_layout(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.merge import read_point_lookup

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    write_clustered(cluster_linear(df, ["k"], 16), tmp_table)
    out = read_point_lookup(spark, tmp_table, "k", [42])
    assert [tuple(r) for r in out.collect()] == [(42, 126)]
    # No bloom sidecar here — footer ranges prune on the linear layout.
    assert len(out.inputFiles()) < len(glob.glob(f"{tmp_table}/*.parquet"))


def test_point_lookup_missing_key_empty(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_point_lookup,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    upsert_parquet_bloom_indexed(spark, df, tmp_table, "k", "v")
    out = read_point_lookup(spark, tmp_table, "k", [999999])
    assert out.count() == 0
    assert out.columns == ["k", "v"]


def test_point_lookup_job_budget(spark, tmp_table):
    """The probe key's type and the reader's schema come from the
    manifest's recorded schema, and the sidecar is read with the schema
    the code fixes, not from footer-inference jobs: a 2-key probe of a
    bloom-indexed table runs at most 6 jobs before its collect (7 when
    the sidecar's schema was inferred, 9 when the key's was too)."""
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_point_lookup,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    upsert_parquet_bloom_indexed(spark, df, tmp_table, "k", "v")
    out, jobs = jobs_in(spark, lambda: read_point_lookup(spark, tmp_table, "k", [5, 777]))
    assert jobs <= 6
    assert sorted(tuple(r) for r in out.collect()) == [(5, 5), (777, 777)]


# -------------------------------------------- streaming timeline ingest


def test_streaming_timeline_commit_replay_skips(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        read_realtime,
    )
    from spark_hudi_etl_pipeline_spark.streaming.windows import (
        foreach_batch_timeline_commit,
    )

    sink = foreach_batch_timeline_commit(tmp_table)
    b0 = spark.createDataFrame([(1, 10, "a")], "k int, v int, p string")
    b1 = spark.createDataFrame([(1, 20, "a"), (2, 20, "b")], "k int, v int, p string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replayed micro-batch: must be a no-op, not a failure
    assert commit_instants(spark, tmp_table) == [1, 2]
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == {
        (1, 20, "a"), (2, 20, "b"),
    }


# ----------------------------------------------------- table services


def test_maybe_compact_trigger_policy(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.timeline import maybe_compact

    _build_timeline(spark, tmp_table)  # 3 deltas, no base
    before = _rows(read_realtime(spark, tmp_table, KEYS, PRE))
    # Tail of 3 <= max_deltas=3: no-op.
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=3) is None
    # Tail of 3 > 2: compacts at the newest instant.
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=2) == 3
    assert compaction_instants(tmp_table) == [3]
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == before
    # Fresh deltas re-arm the trigger relative to the new base.
    commit_append(spark, _mk(spark, [(9, 40, "a")]), tmp_table, 4)
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=2) is None
    commit_append(spark, _mk(spark, [(9, 50, "a")]), tmp_table, 5)
    commit_append(spark, _mk(spark, [(9, 60, "a")]), tmp_table, 6)
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=2) == 6


def test_recluster_restores_disjoint_ranges(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        recluster_indexed_table,
        table_live_files,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # Hash-scattered first write: every file's key range spans the domain.
    upsert_parquet_bloom_indexed(
        spark, df.repartition(8, "k"), tmp_table, "k", "v"
    )
    v0, _ = table_live_files(tmp_table)
    before = {tuple(r) for r in read_indexed_table(spark, tmp_table).collect()}
    n = recluster_indexed_table(spark, tmp_table, "k", n_files=8)
    assert n == 20000
    v1, live = table_live_files(tmp_table)
    assert v1 == v0 + 1
    # Arrangement changed, data identical.
    after = {tuple(r) for r in read_indexed_table(spark, tmp_table).collect()}
    assert after == before
    bounds = sorted(
        (b["k"][0], b["k"][1])
        for b in file_column_bounds(tmp_table, ["k"], files=live)
        if b["k"][0] is not None
    )
    assert len(bounds) >= 2
    for (_, hi1), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi1 < lo2
    # Replaced files were cleaned; directory holds only the live set.
    on_disk = {os.path.basename(f) for f in glob.glob(f"{tmp_table}/*.parquet")}
    assert on_disk == set(live)


def test_streaming_incremental_pull_from_timeline(spark, tmp_table, tmp_path):
    """The timeline doubles as a streaming source: a file stream over
    the commit-partitioned directory delivers each commit's rows exactly
    once across drains (Hudi's streaming incremental query)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    _build_timeline(spark, tmp_table)  # commits 1..3
    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("v", IntegerType()),
            StructField("p", StringType()),
            StructField(  # partition column surfaces in the stream
                "commit_ts", LongType()
            ),
        ]
    )
    out = str(tmp_path / "pull_out")
    chk = str(tmp_path / "pull_chk")

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("basePath", tmp_table)
            .parquet(f"{tmp_table}/commit_ts=*")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    first = spark.read.parquet(out)
    assert first.count() == 7  # 3 + 2 + 2 rows across commits 1..3
    assert set(r["commit_ts"] for r in first.select("commit_ts").distinct().collect()) == {1, 2, 3}
    # New commit lands; the SAME checkpoint delivers ONLY the new rows.
    commit_append(spark, _mk(spark, [(8, 40, "c"), (9, 40, "c")]), tmp_table, 4)
    drain()
    second = spark.read.parquet(out)
    assert second.count() == 9
    assert second.filter("commit_ts = 4").count() == 2


# ---------------------------------------------------- secondary index


def test_secondary_index_prunes_on_nonkey_column(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        build_secondary_index,
        read_point_lookup,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import bulk_insert

    # Layout by k; c is localized (c = k div 1250) so a secondary bloom
    # on c can prune hard while k-footer ranges say nothing about c.
    df = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        (F.col("id") / F.lit(1250)).cast("int").alias("c"),
        (F.col("id") * 2).alias("v"),
    )
    bulk_insert(spark, df, tmp_table, sort_cols=["k"], mode="GLOBAL_SORT", n_files=16)
    n_files = build_secondary_index(spark, tmp_table, "c")
    assert n_files == len(glob.glob(f"{tmp_table}/*.parquet"))
    out = read_point_lookup(spark, tmp_table, "c", [3], primary=False)
    rows = out.collect()
    assert len(rows) == 1250 and all(r["c"] == 3 for r in rows)
    assert 0 < len(out.inputFiles()) < n_files  # pruning evidence


def test_secondary_lookup_never_probes_key_bloom(spark, tmp_table):
    """Without a column-specific sidecar, a secondary lookup must fall
    back to footer ranges / full scan — NEVER the record-key bloom
    (whose bits would produce false negatives for another column)."""
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_point_lookup,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("c")
    )
    upsert_parquet_bloom_indexed(spark, df.repartition(8, "k"), tmp_table, "k", "c")
    out = read_point_lookup(spark, tmp_table, "c", [3], primary=False)
    assert out.count() == df.filter("c = 3").count()  # exact despite no index


# ------------------------------------------------- metadata-only bootstrap


def test_bootstrap_reads_without_copying(spark, tmp_table, tmp_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        bootstrap_timeline,
        read_as_of,
    )

    src = str(tmp_path / "legacy")
    _mk(spark, [(1, 10, "a"), (2, 10, "b")]).write.parquet(src)
    src_files = {f: os.path.getmtime(f) for f in glob.glob(f"{src}/*.parquet")}
    assert bootstrap_timeline(spark, src, tmp_table, commit_ts=1) == 1
    assert commit_instants(spark, tmp_table) == [1]
    # No data copied: the timeline dir holds only the marker.
    assert glob.glob(f"{tmp_table}/commit_ts=*") == []
    commit_append(spark, _mk(spark, [(1, 20, "a"), (3, 20, "c")]), tmp_table, 2)
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == {
        (1, 20, "a"), (2, 10, "b"), (3, 20, "c"),
    }
    # Time travel to the bootstrap instant = the legacy table verbatim.
    assert _rows(read_as_of(spark, tmp_table, KEYS, PRE, 1)) == {
        (1, 10, "a"), (2, 10, "b"),
    }
    # The legacy source was never touched.
    assert src_files == {
        f: os.path.getmtime(f) for f in glob.glob(f"{src}/*.parquet")
    }


def test_bootstrap_compaction_retires_marker(spark, tmp_table, tmp_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        _bootstrap_info,
        bootstrap_timeline,
        compact_timeline,
    )

    src = str(tmp_path / "legacy")
    _mk(spark, [(1, 10, "a"), (2, 10, "b")]).write.parquet(src)
    bootstrap_timeline(spark, src, tmp_table, commit_ts=1)
    commit_append(spark, _mk(spark, [(1, 20, "a")]), tmp_table, 2)
    before = _rows(read_realtime(spark, tmp_table, KEYS, PRE))
    compact_timeline(spark, tmp_table, KEYS, PRE, 2)
    assert _bootstrap_info(tmp_table) is None  # marker retired
    # Reads no longer depend on the source at all.
    import shutil

    shutil.rmtree(src)
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == before


def test_bootstrap_guards(spark, tmp_table, tmp_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        bootstrap_timeline,
    )

    src = str(tmp_path / "legacy")
    _mk(spark, [(1, 10, "a")]).write.parquet(src)
    _build_timeline(spark, tmp_table)
    with pytest.raises(ValueError, match="already has commits"):
        bootstrap_timeline(spark, src, tmp_table)
    t2 = str(tmp_path / "t2")
    bootstrap_timeline(spark, src, t2, commit_ts=5)
    with pytest.raises(ValueError, match="bootstrap base"):
        rollback_last(spark, t2)
    # Appends must come after the bootstrap instant.
    with pytest.raises(ValueError, match="monotone"):
        commit_append(spark, _mk(spark, [(9, 1, "z")]), t2, 5)


def test_read_realtime_meta_column(spark, tmp_table):
    """fold meta_col = Hudi _hoodie_commit_time: each row carries its
    winning commit instant; compaction rewrites it to the base instant."""
    from spark_hudi_etl_pipeline_spark.operators.timeline import compact_timeline

    _build_timeline(spark, tmp_table)  # c1: k1,k2,k3; c2: k1,k4; c3: k2,k5
    got = {
        r["k"]: r["wrote_at"]
        for r in read_realtime(
            spark, tmp_table, KEYS, PRE, meta_col="wrote_at"
        ).collect()
    }
    assert got == {1: 2, 2: 3, 3: 1, 4: 2, 5: 3}
    compact_timeline(spark, tmp_table, KEYS, PRE, 2)
    got2 = {
        r["k"]: r["wrote_at"]
        for r in read_realtime(
            spark, tmp_table, KEYS, PRE, meta_col="wrote_at"
        ).collect()
    }
    # Rows collapsed into the base read the base instant (Hudi semantics).
    assert got2 == {1: 2, 2: 3, 3: 2, 4: 2, 5: 3}


def test_recluster_zorder_tightens_both_columns(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        recluster_indexed_table,
        table_live_files,
        upsert_parquet_bloom_indexed,
    )

    # Two independent uniform columns: z-order should localize both.
    df = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 10000).alias("y"),
        F.col("id").alias("v"),
    )
    upsert_parquet_bloom_indexed(spark, df.repartition(8, "k"), tmp_table, "k", "v")
    before = {tuple(r) for r in read_indexed_table(spark, tmp_table).collect()}
    n = recluster_indexed_table(spark, tmp_table, "k", n_files=16, zorder_with="y")
    assert n == 20000
    assert {tuple(r) for r in read_indexed_table(spark, tmp_table).collect()} == before
    _, live = table_live_files(tmp_table)
    bounds = file_column_bounds(tmp_table, ["k", "y"], files=live)
    n_files = len(bounds)
    assert n_files >= 8
    # Each column's per-file span should be a fraction of its domain for
    # most files — the z-curve localizes both dimensions at once.
    k_tight = sum(1 for b in bounds if b["k"][1] - b["k"][0] < 20000 * 0.6)
    y_tight = sum(1 for b in bounds if b["y"][1] - b["y"][0] < 10000 * 0.6)
    assert k_tight >= n_files * 0.5, f"k spans too wide: {bounds}"
    assert y_tight >= n_files * 0.5, f"y spans too wide: {bounds}"


def test_timeline_schema_evolution_on_read(spark, tmp_table):
    """A later commit may ADD columns: the log read schema-merges, so
    the fold surfaces the new column (NULL for rows written before it)
    instead of silently dropping it."""
    commit_append(spark, _mk(spark, [(1, 10, "a"), (2, 10, "b")]), tmp_table, 1)
    widened = spark.createDataFrame(
        [(1, 20, "a", "web"), (3, 20, "c", "app")],
        "k int, v int, p string, channel string",
    )
    commit_append(spark, widened, tmp_table, 2)
    got = {
        r["k"]: (r["v"], r["p"], r["channel"])
        for r in read_realtime(spark, tmp_table, KEYS, PRE).collect()
    }
    assert got == {
        1: (20, "a", "web"),
        2: (10, "b", None),  # pre-widening row: new column reads NULL
        3: (20, "c", "app"),
    }


def test_stale_secondary_sidecar_safe_after_recluster(spark, tmp_table):
    """Reclustering rewrites the file set, so BOTH sidecars go stale;
    the manifest-mismatch validation must force lookups onto safe
    fallbacks (exact results), and a rebuild restores pruning."""
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        build_secondary_index,
        read_point_lookup,
        recluster_indexed_table,
        upsert_parquet_bloom_indexed,
    )

    df = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        (F.col("id") / F.lit(625)).cast("int").alias("c"),
        F.col("id").alias("v"),
    )
    upsert_parquet_bloom_indexed(spark, df.repartition(8, "k"), tmp_table, "k", "v")
    build_secondary_index(spark, tmp_table, "c")
    recluster_indexed_table(spark, tmp_table, "k", n_files=8)
    # Stale sidecar must NOT be consulted: result stays exact.
    out = read_point_lookup(spark, tmp_table, "c", [3], primary=False)
    assert out.count() == 625
    # Rebuild → pruning again.
    build_secondary_index(spark, tmp_table, "c")
    out2 = read_point_lookup(spark, tmp_table, "c", [3], primary=False)
    assert out2.count() == 625
    assert len(out2.inputFiles()) < 8


# -------------------------------------------------- record-level index


def test_record_index_exact_pruning(spark, tmp_table):
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        read_point_lookup,
        upsert_parquet_record_indexed,
    )

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    upsert_parquet_record_indexed(
        spark, df.repartition(16, "k"), tmp_table, "k", "v"
    )
    files_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{tmp_table}/*.parquet")
    }
    assert len(files_before) >= 8
    # Update ONE key: exactly one file should be rewritten.
    upsert_parquet_record_indexed(
        spark,
        spark.createDataFrame([(7777, 99999)], "k long, v long"),
        tmp_table,
        "k",
        "v",
    )
    files_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{tmp_table}/*.parquet")
    }
    untouched = [f for f in files_before if f in files_after
                 and files_before[f] == files_after[f]]
    assert len(untouched) == len(files_before) - 1
    got = {tuple(r) for r in read_indexed_table(spark, tmp_table)
           .filter("k in (7777, 7778)").collect()}
    assert got == {(7777, 99999), (7778, 15556)}
    # Pure insert (key outside the index): nothing rewritten, one new file.
    n_before = len(files_after)
    upsert_parquet_record_indexed(
        spark,
        spark.createDataFrame([(10**9, 10**9 * 3)], "k long, v long"),
        tmp_table,
        "k",
        "v",
    )
    files_final = {
        f: os.path.getmtime(f) for f in glob.glob(f"{tmp_table}/*.parquet")
    }
    assert sum(1 for f in files_after
               if f in files_final and files_after[f] == files_final[f]) == n_before
    # Point lookups ride the exact index: minimal file set.
    out = read_point_lookup(spark, tmp_table, "k", [5, 7777])
    assert {tuple(r) for r in out.collect()} == {(5, 10), (7777, 99999)}
    assert len(out.inputFiles()) <= 2


def test_record_index_stale_sidecar_rebuilds(spark, tmp_table):
    import shutil

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        upsert_parquet_record_indexed,
    )

    df = spark.range(0, 2000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    upsert_parquet_record_indexed(spark, df, tmp_table, "k", "v")
    shutil.rmtree(f"{tmp_table}/_rli")  # simulate crash-before-sidecar
    upsert_parquet_record_indexed(
        spark, spark.createDataFrame([(5, 99)], "k long, v long"),
        tmp_table, "k", "v",
    )
    got = read_indexed_table(spark, tmp_table)
    assert got.count() == 2000  # cold rebuild, no duplicate key 5
    assert got.filter("k = 5").collect()[0]["v"] == 99


def test_cleaner_over_bootstrap_retires_marker(spark, tmp_table, tmp_path):
    """Retention on an adopted table: the cleaner's compaction collapses
    the bootstrap base into a real base and retires the marker; state is
    invariant and the legacy source becomes droppable."""
    import shutil

    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        _bootstrap_info,
        bootstrap_timeline,
    )

    src = str(tmp_path / "legacy")
    _mk(spark, [(1, 10, "a"), (2, 10, "b")]).write.parquet(src)
    bootstrap_timeline(spark, src, tmp_table, commit_ts=1)
    commit_append(spark, _mk(spark, [(1, 20, "a")]), tmp_table, 2)
    commit_append(spark, _mk(spark, [(3, 30, "c")]), tmp_table, 3)
    before = _rows(read_realtime(spark, tmp_table, KEYS, PRE))
    assert clean_timeline(spark, tmp_table, KEYS, PRE, retain_last=2) == 2
    assert _bootstrap_info(tmp_table) is None
    shutil.rmtree(src)
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == before


def test_maybe_compact_over_bootstrap(spark, tmp_table, tmp_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        _bootstrap_info,
        bootstrap_timeline,
        maybe_compact,
    )

    src = str(tmp_path / "legacy")
    _mk(spark, [(1, 10, "a")]).write.parquet(src)
    bootstrap_timeline(spark, src, tmp_table, commit_ts=1)
    commit_append(spark, _mk(spark, [(2, 20, "b")]), tmp_table, 2)
    # Tail = [1, 2] (no base yet): exceeds max_deltas=1 → compacts at 2.
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=1) == 2
    assert _bootstrap_info(tmp_table) is None
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == {
        (1, 10, "a"), (2, 20, "b"),
    }


def test_savepoint_survives_restore_after_maybe_compact(spark, tmp_table):
    """Savepoint + inline-compaction interplay: maybe_compact clamps to
    the oldest savepoint, so a pinned instant stays restorable no matter
    how aggressive the trigger — and the trigger does not spin on no-op
    compactions once clamped."""
    from spark_hudi_etl_pipeline_spark.operators.timeline import maybe_compact

    _build_timeline(spark, tmp_table)
    savepoint(spark, tmp_table, 1)
    pinned = _rows(read_as_of(spark, tmp_table, KEYS, PRE, 1))
    # Trigger fires (3 deltas > 1) but clamps to the savepoint at 1.
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=1) == 1
    assert compaction_instants(tmp_table) == [1]
    # Second fire: clamp leaves nothing new to collapse → None, no spin.
    assert maybe_compact(spark, tmp_table, KEYS, PRE, max_deltas=1) is None
    # The savepoint guarantee: restore_to the pinned instant still works.
    restore_to(spark, tmp_table, 1)
    assert _rows(read_realtime(spark, tmp_table, KEYS, PRE)) == pinned


def test_symlink_manifest_atomic_and_exact(spark, tmp_path):
    """The exported manifest lists exactly the live file set (orphans
    absent), re-export after a commit swaps atomically (no .tmp left
    behind), and an external-style read through the manifest equals the
    manifest-consistent read."""
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
        upsert_parquet_indexed,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        export_symlink_manifest,
        read_via_symlink_manifest,
    )
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    path = str(tmp_path / "tbl")
    upsert_parquet_indexed(
        spark, orders, path, "o_orderkey", "o_orderdate"
    )
    m1 = export_symlink_manifest(path)
    _, live1 = table_live_files(path)
    listed1 = {
        os.path.basename(line.strip())
        for line in open(m1)
        if line.strip()
    }
    assert listed1 == set(live1)

    upd = orders.limit(50).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    ).withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAYS"))
    upsert_parquet_indexed(spark, upd, path, "o_orderkey", "o_orderdate")
    m2 = export_symlink_manifest(path)
    assert m2 == m1  # same target path, atomically replaced
    assert not os.path.exists(m2 + ".tmp")
    _, live2 = table_live_files(path)
    listed2 = {
        os.path.basename(line.strip()) for line in open(m2) if line.strip()
    }
    assert listed2 == set(live2)

    a = sorted(tuple(r) for r in read_via_symlink_manifest(spark, m2).collect())
    b = sorted(tuple(r) for r in read_indexed_table(spark, path).collect())
    assert a == b
