"""Partition-pruned upsert (operators/merge.py::upsert_parquet_partitioned)
— the Hudi partitioned-COW write path (reference pipeline_architecture.py
:183-192) re-expressed: only partitions the batch lands in are scanned and
rewritten; everything else is untouched on disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.merge import (
    merge_upsert,
    upsert_parquet_partitioned,
)


def rows_of(df):
    return {tuple(r) for r in df.collect()}


def part_files(path: str, value: str) -> dict[str, float]:
    """file → mtime map for one hive partition directory."""
    d = f"{path}/p={value}"
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in sorted(os.listdir(d))
        if not f.startswith(("_", "."))
    }


SCHEMA = "k long, p string, v string, prec long"


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    rows = [
        (1, "a", "a1", 1),
        (2, "a", "a2", 1),
        (3, "b", "b1", 1),
        (4, "b", "b2", 1),
        (5, "c", "c1", 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    upsert_parquet_partitioned(spark, df, path, ["k"], "prec", "p")
    return path


def test_untouched_partitions_not_rewritten(spark, table):
    before = {v: part_files(table, v) for v in "abc"}
    batch = spark.createDataFrame(
        [(1, "a", "a1-new", 2), (6, "a", "a6", 2)], SCHEMA
    )
    n = upsert_parquet_partitioned(spark, batch, table, ["k"], "prec", "p")
    after = {v: part_files(table, v) for v in "abc"}
    # b and c: identical file sets and mtimes — never read, never written.
    assert after["b"] == before["b"]
    assert after["c"] == before["c"]
    # a: rewritten (fresh files).
    assert set(after["a"]) != set(before["a"]) or after["a"] != before["a"]
    assert n == 3  # rows now in partition a
    out = spark.read.parquet(table).select("k", "p", "v", "prec")
    assert rows_of(out) == {
        (1, "a", "a1-new", 2),
        (2, "a", "a2", 1),
        (6, "a", "a6", 2),
        (3, "b", "b1", 1),
        (4, "b", "b2", 1),
        (5, "c", "c1", 1),
    }


def test_matches_unpartitioned_merge(spark, table):
    batch = spark.createDataFrame(
        [(3, "b", "b3-new", 9), (7, "c", "c7", 9), (5, "c", "stale", 0)],
        SCHEMA,
    )
    full_before = spark.read.parquet(table).select("k", "p", "v", "prec")
    expected = rows_of(
        merge_upsert(full_before, batch, ["k", "p"], "prec")
    )
    upsert_parquet_partitioned(spark, batch, table, ["k"], "prec", "p")
    assert rows_of(
        spark.read.parquet(table).select("k", "p", "v", "prec")
    ) == expected


def test_pruned_scan_has_partition_filter(spark, table):
    # The existing-side read must prune at the partition level: the
    # isin(touched) predicate lands in PartitionFilters, not a post-scan
    # Filter over all partitions.
    df = spark.read.parquet(table).filter(F.col("p").isin(["a"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "p#" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert df.count() == 2


def test_delete_empties_partition_drops_directory(spark, table):
    batch = spark.createDataFrame(
        [(5, "c", None, 9, True)],
        "k long, p string, v string, prec long, deleted boolean",
    )
    upsert_parquet_partitioned(
        spark, batch, table, ["k"], "prec", "p", delete_col="deleted"
    )
    assert not os.path.exists(f"{table}/p=c")
    out = spark.read.parquet(table)
    assert rows_of(out.select("k", "p", "v", "prec")) == {
        (1, "a", "a1", 1),
        (2, "a", "a2", 1),
        (3, "b", "b1", 1),
        (4, "b", "b2", 1),
    }


def test_nonglobal_index_key_inserts_in_new_partition(spark, table):
    # Hudi non-global index semantics: key 1 already lives in partition a;
    # a batch row (1, b) INSERTS into b rather than moving the record.
    batch = spark.createDataFrame([(1, "b", "moved?", 9)], SCHEMA)
    upsert_parquet_partitioned(spark, batch, table, ["k"], "prec", "p")
    out = spark.read.parquet(table).filter(F.col("k") == 1)
    assert rows_of(out.select("k", "p", "v", "prec")) == {
        (1, "a", "a1", 1),
        (1, "b", "moved?", 9),
    }


@pytest.mark.parametrize("first_write", [True, False], ids=["first", "later"])
@pytest.mark.parametrize("global_index", [False, True], ids=["nonglobal", "global"])
def test_null_partition_value_rejected(spark, tmp_path, global_index, first_write):
    """A NULL partition value raises before anything is written, on the
    first write as on later ones, under both index kinds: no table
    directory appears, and an existing table keeps its partitions."""
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        upsert_parquet_partitioned_global,
    )

    upsert = (
        upsert_parquet_partitioned_global
        if global_index
        else upsert_parquet_partitioned
    )
    path = str(tmp_path / "tbl")
    if not first_write:
        seed = spark.createDataFrame([(1, "a", "a1", 1)], SCHEMA)
        upsert(spark, seed, path, ["k"], "prec", "p")
        before = sorted(os.listdir(path))
    batch = spark.createDataFrame([(9, None, "x", 1), (1, "a", "a1-new", 2)], SCHEMA)
    with pytest.raises(ValueError, match="null partition value"):
        upsert(spark, batch, path, ["k"], "prec", "p")
    if first_write:
        assert not os.path.exists(path)
    else:
        assert sorted(os.listdir(path)) == before
        assert rows_of(spark.read.parquet(path)) == {(1, "a1", 1, "a")}


def test_first_write_creates_partitioned_layout(spark, tmp_path, table):
    assert sorted(
        d for d in os.listdir(table) if d.startswith("p=")
    ) == ["p=a", "p=b", "p=c"]


def test_rerun_idempotent(spark, table):
    batch = spark.createDataFrame([(2, "a", "a2-new", 5)], SCHEMA)
    upsert_parquet_partitioned(spark, batch, table, ["k"], "prec", "p")
    first = rows_of(spark.read.parquet(table))
    upsert_parquet_partitioned(spark, batch, table, ["k"], "prec", "p")
    assert rows_of(spark.read.parquet(table)) == first  # same col order both reads


# ---------------------------------------------------------------------------
# File-level indexed upsert (upsert_parquet_indexed): footer key ranges
# as the write index on a linear-clustered layout.
# ---------------------------------------------------------------------------


from spark_hudi_etl_pipeline_spark.operators.clustering import (
    cluster_linear,
    write_clustered,
)
from spark_hudi_etl_pipeline_spark.operators.merge import upsert_parquet_indexed

KSCHEMA = "k long, v string, prec long"


def all_files(path):
    return {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


@pytest.fixture()
def keyed_table(spark, tmp_path):
    path = str(tmp_path / "keyed")
    rows = [(k, f"v{k}", 1) for k in range(100)]
    df = spark.createDataFrame(rows, KSCHEMA)
    write_clustered(cluster_linear(df, ["k"], 5), path)  # ~20 keys/file
    return path


def test_indexed_upsert_rewrites_only_intersecting_files(spark, keyed_table):
    before = all_files(keyed_table)
    batch = spark.createDataFrame([(3, "v3-new", 2), (7, "v7-new", 2)], KSCHEMA)
    upsert_parquet_indexed(spark, batch, keyed_table, "k", "prec")
    after = all_files(keyed_table)
    survivors = set(before) & set(after)
    # Exactly one file (the 0..19 range) replaced; the other four intact.
    assert len(set(before) - survivors) == 1
    assert all(after[f] == before[f] for f in survivors)
    out = {(r["k"], r["v"]) for r in spark.read.parquet(keyed_table).collect()}
    assert ("3", "v3-new") not in out  # sanity: tuple types
    assert (3, "v3-new") in out and (7, "v7-new") in out and (8, "v8") in out
    assert len(out) == 100


def test_indexed_upsert_matches_full_merge(spark, keyed_table):
    batch = spark.createDataFrame(
        [(10, "u10", 9), (55, "u55", 9), (200, "ins", 9), (20, "stale", 0)],
        KSCHEMA,
    )
    full = spark.read.parquet(keyed_table)
    expected = {
        tuple(r) for r in merge_upsert(full, batch, ["k"], "prec").collect()
    }
    upsert_parquet_indexed(spark, batch, keyed_table, "k", "prec")
    assert {tuple(r) for r in spark.read.parquet(keyed_table).collect()} == expected


def test_indexed_upsert_pure_insert_beyond_ranges(spark, keyed_table):
    before = all_files(keyed_table)
    batch = spark.createDataFrame([(1000, "new", 1), (1001, "new", 1)], KSCHEMA)
    upsert_parquet_indexed(spark, batch, keyed_table, "k", "prec")
    after = all_files(keyed_table)
    # Nothing rewritten — all old files intact, one-plus new files added.
    assert all(after[f] == before[f] for f in before)
    assert len(after) > len(before)
    assert spark.read.parquet(keyed_table).count() == 102


def test_indexed_upsert_delete_records(spark, keyed_table):
    batch = spark.createDataFrame(
        [(3, None, 9, True), (42, None, 9, True)],
        "k long, v string, prec long, deleted boolean",
    )
    upsert_parquet_indexed(
        spark, batch, keyed_table, "k", "prec", delete_col="deleted"
    )
    out = spark.read.parquet(keyed_table)
    assert out.count() == 98
    assert out.filter(F.col("k").isin([3, 42])).count() == 0



def test_range_index_counts_files_without_footer_bounds(spark, tmp_path):
    """Spark writes no footer min/max for string values over ~4 KiB, so a
    file of such keys has no range. The range index must treat it as
    affected, else updating one of its keys writes a duplicate row."""
    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        file_column_bounds,
    )
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
    )

    path = str(tmp_path / "long_keys")
    schema = "k string, v string, prec long"
    a, b = "a" * 5000, "b" * 5000
    upsert_parquet_indexed(
        spark, spark.createDataFrame([(a, "v1", 1), (b, "v1", 1)], schema),
        path, "k", "prec",
    )
    _, live = table_live_files(path)
    assert all(
        bd["k"] == (None, None) for bd in file_column_bounds(path, ["k"], files=live)
    )
    upsert_parquet_indexed(
        spark, spark.createDataFrame([(a, "v2", 2)], schema), path, "k", "prec"
    )
    got = sorted((r["k"][0], r["v"]) for r in read_indexed_table(spark, path).collect())
    assert got == [("a", "v2"), ("b", "v1")]


def test_point_lookup_keeps_files_without_footer_bounds(spark, tmp_path):
    """The footer branch of read_point_lookup applies the same rule: a
    file with rows but no bounds stays a candidate next to bounded ones."""
    from spark_hudi_etl_pipeline_spark.operators.merge import read_point_lookup

    path = str(tmp_path / "mixed_keys")
    long_key = "z" * 5000
    for k, v in (("short", "s"), (long_key, "l")):
        spark.createDataFrame([(k, v)], "k string, v string").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    assert [r["v"] for r in read_point_lookup(spark, path, "k", [long_key]).collect()] == ["l"]
    assert [r["v"] for r in read_point_lookup(spark, path, "k", ["short"]).collect()] == ["s"]

# ---------------------------------------------------------------------------
# Bloom-indexed upsert (upsert_parquet_bloom_indexed): per-file bloom
# bitsets as the write index. Unlike the range index, pruning must
# survive an UNCLUSTERED (hash-scattered) layout.
# ---------------------------------------------------------------------------

from spark_hudi_etl_pipeline_spark.operators.merge import (
    upsert_parquet_bloom_indexed,
)


@pytest.fixture()
def scattered_table(spark, tmp_path):
    """100 keys hash-scattered over 5 files — every file's key RANGE
    spans nearly the whole domain (the worst case for the range index)."""
    path = str(tmp_path / "scattered")
    rows = [(k, f"v{k}", 1) for k in range(100)]
    df = spark.createDataFrame(rows, KSCHEMA).repartition(5, F.col("k"))
    df.write.mode("overwrite").parquet(path)
    return path


def test_bloom_upsert_prunes_on_scattered_layout(spark, scattered_table):
    before = all_files(scattered_table)
    batch = spark.createDataFrame([(3, "v3-new", 2)], KSCHEMA)
    upsert_parquet_bloom_indexed(spark, batch, scattered_table, "k", "prec")
    after = all_files(scattered_table)
    survivors = set(before) & set(after)
    # Only the one file whose bloom contains key 3 is replaced; with
    # 8 KiB blooms over ~20 keys, false positives are ~impossible.
    assert len(set(before) - survivors) == 1
    assert all(after[f] == before[f] for f in survivors)
    out = {(r["k"], r["v"]) for r in spark.read.parquet(scattered_table).collect()}
    assert (3, "v3-new") in out and (4, "v4") in out
    assert len(out) == 100


def test_bloom_upsert_matches_full_merge(spark, scattered_table):
    batch = spark.createDataFrame(
        [(10, "u10", 9), (55, "u55", 9), (200, "ins", 9), (20, "stale", 0)],
        KSCHEMA,
    )
    full = spark.read.parquet(scattered_table)
    expected = {
        tuple(r) for r in merge_upsert(full, batch, ["k"], "prec").collect()
    }
    upsert_parquet_bloom_indexed(spark, batch, scattered_table, "k", "prec")
    got = {tuple(r) for r in spark.read.parquet(scattered_table).collect()}
    assert got == expected


def test_bloom_upsert_pure_insert_no_rewrites(spark, scattered_table):
    before = all_files(scattered_table)
    batch = spark.createDataFrame([(1000, "new", 1), (1001, "new", 1)], KSCHEMA)
    upsert_parquet_bloom_indexed(spark, batch, scattered_table, "k", "prec")
    after = all_files(scattered_table)
    assert all(after[f] == before[f] for f in before)
    assert len(after) > len(before)
    assert spark.read.parquet(scattered_table).count() == 102


def test_bloom_upsert_delete_records_and_incremental_index(spark, scattered_table):
    batch = spark.createDataFrame(
        [(3, None, 9, True), (42, None, 9, True)],
        "k long, v string, prec long, deleted boolean",
    )
    upsert_parquet_bloom_indexed(
        spark, batch, scattered_table, "k", "prec", delete_col="deleted"
    )
    out = spark.read.parquet(scattered_table)
    assert out.count() == 98
    assert out.filter(F.col("k").isin([3, 42])).count() == 0
    # The sidecar tracks exactly the current data files.
    import os

    sidecar = spark.read.parquet(os.path.join(scattered_table, "_bloom"))
    indexed = {r["file"] for r in sidecar.select("file").distinct().collect()}
    assert indexed == set(all_files(scattered_table))


def test_bloom_upsert_stale_sidecar_falls_back_to_cold_rebuild(
    spark, scattered_table
):
    """A crash between the manifest publish and the sidecar rewrite
    leaves a COMMITTED file the sidecar has never seen. Trusting that
    sidecar yields bloom FALSE NEGATIVES (the unindexed file is never
    probed), so a later upsert of its keys would insert duplicates. The
    loader must detect the sidecar/manifest mismatch and cold-rebuild."""
    import os
    import shutil

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        _manifest_publish,
        table_live_files,
    )

    batch = spark.createDataFrame([(7, "warm", 2)], KSCHEMA)
    upsert_parquet_bloom_indexed(spark, batch, scattered_table, "k", "prec")

    # Simulate the torn commit: a new data file (key 500) is moved in
    # AND referenced by a published manifest — the crash happens just
    # before the sidecar update.
    staging = os.path.join(scattered_table, "..", "torn-staging")
    spark.createDataFrame([(500, "torn", 1)], KSCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    (src,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    shutil.move(
        os.path.join(staging, src),
        os.path.join(scattered_table, "part-torn-00000.parquet"),
    )
    version, live = table_live_files(scattered_table)
    _manifest_publish(
        scattered_table, live + ["part-torn-00000.parquet"], version + 1
    )
    sidecar = spark.read.parquet(os.path.join(scattered_table, "_bloom"))
    indexed = {r["file"] for r in sidecar.select("file").distinct().collect()}
    assert "part-torn-00000.parquet" not in indexed  # sidecar IS stale

    batch2 = spark.createDataFrame([(500, "fixed", 9)], KSCHEMA)
    upsert_parquet_bloom_indexed(spark, batch2, scattered_table, "k", "prec")
    out = spark.read.parquet(scattered_table).filter(F.col("k") == 500)
    rows = [(r["k"], r["v"]) for r in out.collect()]
    assert rows == [(500, "fixed")]  # exactly one row — no duplicate key
    # And the rebuilt sidecar matches the live file set again.
    sidecar2 = spark.read.parquet(os.path.join(scattered_table, "_bloom"))
    indexed2 = {r["file"] for r in sidecar2.select("file").distinct().collect()}
    assert indexed2 == set(all_files(scattered_table))
    assert indexed2 == set(table_live_files(scattered_table)[1])


def test_manifest_commit_crash_never_torn(spark, scattered_table):
    """Crash-between-stage-and-commit: data files that were moved in but
    never referenced by a published manifest are invisible to readers —
    a reader sees the complete old state or the complete new state,
    never a mix. The next successful commit leaves the orphan alone (only
    age tells it from a concurrent writer's moved-in file), and
    vacuum_orphans reclaims it."""
    import os
    import shutil

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
        vacuum_orphans,
    )

    batch = spark.createDataFrame([(3, "v3-new", 2)], KSCHEMA)
    upsert_parquet_indexed(spark, batch, scattered_table, "k", "prec")
    before = {(r["k"], r["v"]) for r in read_indexed_table(spark, scattered_table).collect()}
    v_before, _ = table_live_files(scattered_table)

    # Simulate the crash: a staged file full of would-be updates lands
    # in the table directory, but the manifest publish never happened.
    staging = os.path.join(scattered_table, "..", "crash-staging")
    spark.createDataFrame(
        [(3, "TORN", 99), (4, "TORN", 99)], KSCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(staging)
    (src,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    orphan = os.path.join(scattered_table, "part-upsert-deadbeef-00000.parquet")
    shutil.move(os.path.join(staging, src), orphan)

    # Readers on the manifest see the old complete state — no torn mix.
    after_crash = {(r["k"], r["v"]) for r in read_indexed_table(spark, scattered_table).collect()}
    assert after_crash == before
    assert table_live_files(scattered_table)[0] == v_before

    # The next successful commit supersedes the orphan; the vacuum
    # reclaims it.
    batch2 = spark.createDataFrame([(4, "v4-new", 3)], KSCHEMA)
    upsert_parquet_indexed(spark, batch2, scattered_table, "k", "prec")
    final = {(r["k"], r["v"]) for r in read_indexed_table(spark, scattered_table).collect()}
    assert (3, "v3-new") in final and (4, "v4-new") in final
    assert not any(v == "TORN" for _, v in final)
    assert os.path.exists(orphan)  # the commit's cleaner leaves it
    assert vacuum_orphans(scattered_table, min_age_seconds=0) == [os.path.basename(orphan)]
    assert not os.path.exists(orphan)
    # Directory read and manifest read agree after the vacuum.
    dir_read = {(r["k"], r["v"]) for r in spark.read.parquet(scattered_table).collect()}
    assert dir_read == final


def test_vacuum_orphans_rules(spark, tmp_path):
    """Vacuum removes only aged unreferenced files: manifest-live files
    and young orphans survive; a pre-manifest table is left alone."""
    import glob
    import os
    import shutil

    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        upsert_parquet_indexed,
        vacuum_orphans,
    )

    path = os.path.join(str(tmp_path), "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_clustered(cluster_linear(df, ["k"], 4), path)
    batch = df.filter(F.col("k") % 10 == 0).withColumn("v", F.col("v") + 1)
    upsert_parquet_indexed(spark, batch, path, "k", "v")
    before = {r["k"]: r["v"] for r in read_indexed_table(spark, path).collect()}

    live = sorted(glob.glob(os.path.join(path, "*.parquet")))
    old = os.path.join(path, "part-upsert-orphan-00001.parquet")
    young = os.path.join(path, "part-upsert-orphan-00002.parquet")
    shutil.copy(live[0], old)
    shutil.copy(live[0], young)
    os.utime(old, (0, 0))
    removed = vacuum_orphans(path, min_age_seconds=60)
    assert removed == [os.path.basename(old)]
    assert os.path.exists(young) and not os.path.exists(old)
    # live files intact, reads unchanged
    after = {r["k"]: r["v"] for r in read_indexed_table(spark, path).collect()}
    assert after == before

    # pre-manifest table: nothing provable, nothing removed
    plain = os.path.join(str(tmp_path), "plain")
    df.write.mode("overwrite").parquet(plain)
    os.utime(glob.glob(os.path.join(plain, "*.parquet"))[0], (0, 0))
    assert vacuum_orphans(plain, min_age_seconds=60) == []


def test_vacuum_keeps_files_older_manifests_reference(spark, tmp_path):
    """clean=False writes leave history files referenced only by OLDER
    manifest versions (catalog/branch pins, time travel). Vacuum must
    treat those as history, not orphans (r7 ADVICE high) — only files
    NO manifest version references are reclaimable."""
    import glob
    import os

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        manifest_files_at,
        read_indexed_table,
        retire_manifests,
        upsert_parquet_indexed,
        vacuum_orphans,
    )

    path = os.path.join(str(tmp_path), "t")
    df = spark.createDataFrame(
        [(i, i * 2, 1) for i in range(50)], "k long, v long, prec long"
    )
    r1 = upsert_parquet_indexed(spark, df, path, "k", "prec")
    upd = df.filter("k < 10").withColumn("v", F.col("v") + 1)
    r2 = upsert_parquet_indexed(spark, upd, path, "k", "prec", clean=False)
    assert (r1.version, r2.version) == (1, 2)
    v1_only = set(manifest_files_at(path, 1)) - set(manifest_files_at(path, 2))
    assert v1_only  # the rewrite really replaced files
    for f in glob.glob(os.path.join(path, "*.parquet")):
        os.utime(f, (0, 0))  # age everything past the floor
    assert vacuum_orphans(path, min_age_seconds=60) == []
    assert {os.path.basename(f) for f in glob.glob(os.path.join(path, "*.parquet"))} >= v1_only
    # v1 still fully readable (time travel / a pinning catalog).
    old = spark.read.parquet(
        *[os.path.join(path, f) for f in manifest_files_at(path, 1)]
    )
    assert {(r["k"], r["v"]) for r in old.collect()} == {
        (i, i * 2) for i in range(50)
    }
    # Retire v1 (nothing pins it) -> its exclusive files become true
    # orphans and the vacuum reclaims exactly those.
    assert retire_manifests(path, pinned=set()) == [1]
    removed = set(vacuum_orphans(path, min_age_seconds=60))
    assert removed == v1_only
    after = {(r["k"], r["v"]) for r in read_indexed_table(spark, path).collect()}
    assert after == {(i, i * 2 + (1 if i < 10 else 0)) for i in range(50)}


def test_retire_manifests_rules(spark, tmp_path):
    """The cleaner never touches the latest version or a pinned one."""
    import os

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        retire_manifests,
        upsert_parquet_indexed,
    )

    path = os.path.join(str(tmp_path), "t")
    df = spark.createDataFrame([(1, 1, 1)], "k long, v long, prec long")
    for i in range(4):
        upsert_parquet_indexed(
            spark, df.withColumn("v", F.lit(i)), path, "k", "prec", clean=False
        )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        retire_manifests(path, pinned=set(), keep_latest=0)
    assert retire_manifests(path, pinned={2}) == [1, 3]
    mdir = os.path.join(path, "_manifest")
    assert sorted(os.listdir(mdir)) == ["v2.json", "v4.json"]


_FIRST_COMMIT_CRASH = r"""
import os, sys
from spark_hudi_etl_pipeline_spark.operators import merge
from spark_hudi_etl_pipeline_spark.session import get_spark_session

spark = get_spark_session(
    "first-commit-crash", master="local[1]",
    extra_configs={"spark.ui.enabled": "false"},
)
publish = merge._manifest_publish

def crash_on_commit(path, files, version, extra=None):
    if any(f.startswith("part-upsert-") for f in files):
        os._exit(3)  # killed after the move, before the commit point
    publish(path, files, version, extra)

merge._manifest_publish = crash_on_commit
batch = spark.createDataFrame(
    [(k, "new", 2) for k in range(3)], "k long, v string, prec long"
)
merge.upsert_parquet(spark, batch, sys.argv[1], ["k"], "prec")
"""


def test_first_commit_crash_exposes_nothing(spark, tmp_path):
    """A process killed inside the publish of a table's FIRST manifest
    commit (here: migrating a plain pre-manifest directory) must leave
    the moved-in file unreferenced: readers keep the pre-commit rows,
    vacuum_orphans reclaims the file, and a re-run commits the batch."""
    import glob
    import subprocess
    import sys

    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
        upsert_parquet,
        vacuum_orphans,
    )

    path = str(tmp_path / "t")
    old = [(k, "old", 1) for k in range(3)]
    spark.createDataFrame(old, KSCHEMA).coalesce(1).write.parquet(path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _FIRST_COMMIT_CRASH, path],
        capture_output=True, text=True, timeout=300, cwd=repo,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 3, proc.stderr[-2000:]
    moved = {
        os.path.basename(f)
        for f in glob.glob(os.path.join(path, "part-upsert-*.parquet"))
    }
    assert moved  # the crash really came after the move
    assert not moved & set(table_live_files(path)[1])
    assert rows_of(read_indexed_table(spark, path)) == set(old)
    assert set(vacuum_orphans(path, min_age_seconds=0)) == moved

    batch = spark.createDataFrame([(k, "new", 2) for k in range(3)], KSCHEMA)
    upsert_parquet(spark, batch, path, ["k"], "prec")
    assert rows_of(read_indexed_table(spark, path)) == {
        (k, "new", 2) for k in range(3)
    }
