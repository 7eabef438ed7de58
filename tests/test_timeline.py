"""Commit timeline: append-only commits, time-travel reads, incremental
pull, compaction (operators/timeline.py) — the Hudi timeline/MOR
capabilities the reference gets from `format("hudi")`
(pipeline_architecture.py:183-192), engine-side."""

from __future__ import annotations

import functools
import os
import random

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert
from spark_hudi_etl_pipeline_spark.operators.timeline import (
    COMMIT_COL,
    commit_append,
    commit_instants,
    compact_timeline,
    fold_commits,
    read_as_of,
    read_incremental,
)

SCHEMA = "k long, v string, prec long"
DSCHEMA = "k long, v string, prec long, deleted boolean"


def rows_of(df):
    return {tuple(r) for r in df.collect()}


def replay_commits(commits, keys, precombine, *, delete_col=None):
    """Ground-truth sequential fold: ``merge_upsert`` applied commit by
    commit, in order. Exact for every input (including deletes that
    precede older-precombine re-inserts), at the cost of one join per
    commit — the reference model the window fold is tested against."""
    return functools.reduce(
        lambda state, batch: merge_upsert(
            state, batch, keys, precombine, delete_col=delete_col
        ),
        commits,
        None,
    )


@pytest.fixture()
def log_path(spark, tmp_path):
    path = str(tmp_path / "log")
    c1 = spark.createDataFrame([(1, "a1", 10), (2, "b1", 10)], SCHEMA)
    c2 = spark.createDataFrame([(2, "b2", 20), (3, "c1", 20)], SCHEMA)
    c3 = spark.createDataFrame([(1, "a3", 30), (4, "d1", 30)], SCHEMA)
    for ts, batch in ((1, c1), (2, c2), (3, c3)):
        commit_append(spark, batch, path, ts)
    return path


def test_commit_append_is_pure_append(spark, log_path):
    def files(ts):
        d = f"{log_path}/{COMMIT_COL}={ts}"
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        }

    before = {t: files(t) for t in (1, 2, 3)}
    commit_append(
        spark, spark.createDataFrame([(5, "e1", 40)], SCHEMA), log_path, 4
    )
    assert {t: files(t) for t in (1, 2, 3)} == before
    assert commit_instants(spark, log_path) == [1, 2, 3, 4]


def test_commit_instants_must_be_monotone(spark, log_path):
    batch = spark.createDataFrame([(9, "x", 1)], SCHEMA)
    with pytest.raises(ValueError, match="monotone"):
        commit_append(spark, batch, log_path, 2)


def test_time_travel_reads(spark, log_path):
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 1)) == {
        (1, "a1", 10),
        (2, "b1", 10),
    }
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 2)) == {
        (1, "a1", 10),
        (2, "b2", 20),
        (3, "c1", 20),
    }
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 3)) == {
        (1, "a3", 30),
        (2, "b2", 20),
        (3, "c1", 20),
        (4, "d1", 30),
    }


def test_time_travel_prunes_commit_partitions(spark, log_path):
    df = read_as_of(spark, log_path, ["k"], "prec", 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and COMMIT_COL in pf[1].split("]", 1)[0]


def test_incremental_pull(spark, log_path):
    inc = read_incremental(spark, log_path, since=1, as_of=3)
    assert rows_of(inc.select("k", "v", "prec", COMMIT_COL)) == {
        (2, "b2", 20, 2),
        (3, "c1", 20, 2),
        (1, "a3", 30, 3),
        (4, "d1", 30, 3),
    }


def test_delete_records_remove_keys(spark, tmp_path):
    path = str(tmp_path / "dlog")
    c1 = spark.createDataFrame(
        [(1, "a1", 10, False), (2, "b1", 10, False)], DSCHEMA
    )
    c2 = spark.createDataFrame([(1, None, 20, True)], DSCHEMA)
    commit_append(spark, c1, path, 1)
    commit_append(spark, c2, path, 2)
    out = read_as_of(spark, path, ["k"], "prec", 2, delete_col="deleted")
    assert rows_of(out) == {(2, "b1", 10)}
    # Before the delete committed, the key is still visible.
    old = read_as_of(spark, path, ["k"], "prec", 1, delete_col="deleted")
    assert rows_of(old) == {(1, "a1", 10), (2, "b1", 10)}


def test_compaction_preserves_state_and_shortens_timeline(spark, log_path):
    expected = rows_of(read_as_of(spark, log_path, ["k"], "prec", 3))
    n = compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    assert n == 3
    assert commit_instants(spark, log_path) == [2, 3]
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 3)) == expected
    # Pre-compaction instants are gone; as-of the compaction point works.
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 2)) == {
        (1, "a1", 10),
        (2, "b2", 20),
        (3, "c1", 20),
    }


def test_fold_matches_sequential_replay_on_monotone_precombine(spark):
    # Property: on commit-monotone precombine (precombine encodes the
    # commit instant, the normal "precombine is a time" case) the
    # single-window fold equals the ground-truth sequential merge fold,
    # including deletes.
    rng = random.Random(7)
    keys = list(range(12))
    commits, logs = [], []
    for ts in range(1, 6):
        rows = [
            (k, f"v{ts}", ts * 100 + rng.randrange(3), rng.random() < 0.2)
            for k in rng.sample(keys, 6)
        ]
        df = spark.createDataFrame(rows, DSCHEMA)
        commits.append(df)
        logs.append(df.withColumn(COMMIT_COL, F.lit(ts).cast("long")))
    seq = replay_commits(commits, ["k"], "prec", delete_col="deleted")
    log = logs[0]
    for extra in logs[1:]:
        log = log.unionByName(extra)
    win = fold_commits(log, ["k"], "prec", delete_col="deleted")
    assert rows_of(win) == rows_of(seq)


def test_fold_matches_replay_without_deletes_any_order(spark):
    # Without deletes the equivalence is unconditional — even when a
    # later commit carries an older precombine (the stale-row case).
    c1 = spark.createDataFrame([(1, "new", 50)], SCHEMA)
    c2 = spark.createDataFrame([(1, "stale", 10)], SCHEMA)
    seq = replay_commits([c1, c2], ["k"], "prec")
    log = c1.withColumn(COMMIT_COL, F.lit(1).cast("long")).unionByName(
        c2.withColumn(COMMIT_COL, F.lit(2).cast("long"))
    )
    win = fold_commits(log, ["k"], "prec")
    assert rows_of(win) == rows_of(seq) == {(1, "new", 50)}


def test_read_optimized_scans_base_only_and_is_stale(spark, log_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        compaction_instants,
        read_optimized,
        read_realtime,
    )

    # No compaction yet: read-optimized has no base to scan.
    with pytest.raises(FileNotFoundError):
        read_optimized(spark, log_path)
    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    assert compaction_instants(log_path) == [2]
    ro = read_optimized(spark, log_path)
    # Stale by design: commit 3 (a3, d1) is an uncompacted delta.
    assert rows_of(ro) == {(1, "a1", 10), (2, "b2", 20), (3, "c1", 20)}
    # Pure scan of the base partition only — no merge window, and the
    # instant predicate is a PartitionFilter (inputFiles() lists the
    # relation pre-pruning, so assert on the executed plan).
    plan = ro._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    assert "PartitionFilters" in plan and f"{COMMIT_COL}#" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_read_realtime_merges_base_and_delta_tail(spark, log_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import read_realtime

    expected = rows_of(read_as_of(spark, log_path, ["k"], "prec", 3))
    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    rt = read_realtime(spark, log_path, ["k"], "prec")
    assert rows_of(rt) == expected
    # The fold spans base + tail only: commit-1 partitions are gone.
    assert all(f"{COMMIT_COL}=1" not in f for f in rt.inputFiles())


def test_read_as_of_refuses_pre_horizon_instant(spark, log_path):
    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    with pytest.raises(ValueError, match="compaction horizon"):
        read_as_of(spark, log_path, ["k"], "prec", 1)
    # At/after the horizon still works.
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 2))


def test_read_incremental_refuses_pre_horizon_since(spark, log_path):
    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    with pytest.raises(ValueError, match="compaction horizon"):
        read_incremental(spark, log_path, since=1)
    # since == horizon: pull sees only the true delta tail.
    inc = read_incremental(spark, log_path, since=2)
    assert rows_of(inc.select("k", "v", "prec", COMMIT_COL)) == {
        (1, "a3", 30, 3),
        (4, "d1", 30, 3),
    }


def test_timeline_cdc_refuses_pre_horizon_since(spark, log_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import timeline_cdc

    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    with pytest.raises(ValueError, match="compaction horizon"):
        timeline_cdc(spark, log_path, ["k"], "prec", since=1).collect()


def test_compact_timeline_clamps_to_savepoint(spark, log_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        compaction_instants,
        savepoint,
    )

    savepoint(spark, log_path, 1)
    # up_to=3 would collapse the savepointed instant 1 — clamped to 1.
    compact_timeline(spark, log_path, ["k"], "prec", up_to=3)
    assert compaction_instants(log_path) == [1]
    assert commit_instants(spark, log_path) == [1, 2, 3]
    # The savepointed state stays readable (the savepoint guarantee).
    assert rows_of(read_as_of(spark, log_path, ["k"], "prec", 1)) == {
        (1, "a1", 10),
        (2, "b1", 10),
    }


def test_compact_timeline_noop_at_or_below_existing_base(spark, log_path):
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        compaction_instants,
    )

    compact_timeline(spark, log_path, ["k"], "prec", up_to=2)
    # Re-compacting at (or below) the newest base collapses nothing new.
    assert compact_timeline(spark, log_path, ["k"], "prec", up_to=2) == 0
    assert compact_timeline(spark, log_path, ["k"], "prec", up_to=1) == 0
    assert compaction_instants(log_path) == [2]
