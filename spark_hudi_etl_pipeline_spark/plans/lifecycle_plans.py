"""Table-lifecycle plans: the Hudi write-operation types beyond upsert
(``insert_overwrite``, ``delete_partition``, ``bulk_insert``), the
GLOBAL-index upsert (partition-path update), and the timeline lifecycle
actions (savepoint → restore, cleaner retention) — the operational
surface a reference user drives through ``hoodie.datasource.write.
operation`` and the Hudi CLI's savepoint/restore/clean commands
(pipeline_architecture.py:183-192 configures the writer these options
feed into; README.md's Hudi sections sell exactly this lifecycle).

Scale notes (100 TB):
- insert_overwrite / delete_partition never read the existing table —
  O(batch) resp. metadata-only, the point of the operations;
- the global-index lookup reads only (key, partition) columns and
  broadcasts batch keys — the table is never shuffled;
- restore/rollback/savepoint are metadata-scale timeline edits;
- the cleaner is one compaction job over the pruned pre-horizon
  commits, O(pre-horizon data), run at the cadence that bounds read
  amplification.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tableops import (
    bulk_insert,
    delete_partitions,
    insert_overwrite,
    upsert_parquet_partitioned_global,
)
from ..operators.timeline import (
    clean_timeline,
    commit_append,
    read_realtime,
    restore_to,
    savepoint,
)
from ..session import local_frame
from ..sources import load_table
from .registry import query, scratch

ORDER_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def _final_select(df: DataFrame) -> DataFrame:
    return df.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
    ).orderBy("o_orderkey", "o_orderstatus")


# --------------------------------------------------------------------------
# GLOBAL-index upsert (operators/tableops.py::upsert_parquet_partitioned
# _global — Hudi GLOBAL_SIMPLE with update.partition.path=true): orders
# lives partitioned by o_orderstatus; the batch flips keys %4 of status
# 'O' to status 'F' (+30d, ×2) — the record MOVES partitions (the 'O'
# partition loses it, 'F' gains it; the non-global writer would instead
# duplicate the key into 'F') — and inserts cloned keys into 'P'. The
# oracle windows on the key ALONE: global uniqueness means the winning
# row's status is the record's one partition.
# --------------------------------------------------------------------------


@query(
    "upsert_global_index",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, 'F' AS o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, 'P', o_totalprice, o_orderdate, 1
  FROM orders WHERE o_orderkey % 500 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def upsert_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "global_upsert")
    upsert_parquet_partitioned_global(
        spark, orders, path, ["o_orderkey"], "o_orderdate", "o_orderstatus"
    )
    moves = (
        orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 4 == 0)
        )
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit("P").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
    )
    upsert_parquet_partitioned_global(
        spark,
        moves.unionByName(inserts),
        path,
        ["o_orderkey"],
        "o_orderdate",
        "o_orderstatus",
    )
    return _final_select(spark.read.parquet(path))


# --------------------------------------------------------------------------
# insert_overwrite + delete_partition (Hudi write-operation types): the
# 'O' partition is RESTATED with recomputed content (keys %3 only, +5.0
# price adjustment — no merge: the batch IS the new partition), and the
# 'F' partition is dropped by the retention op. 'P' is never read or
# written (file-level asserts in tests/test_lifecycle.py). Final state =
# untouched 'P' + restated 'O'.
# --------------------------------------------------------------------------


@query(
    "insert_overwrite_restate",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderstatus = 'P'
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice + 5.0, o_orderdate
  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0
)
ORDER BY o_orderkey, o_orderstatus
""",
)
def insert_overwrite_restate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "insert_overwrite")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    restated = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
    insert_overwrite(spark, restated, path, "o_orderstatus")
    delete_partitions(spark, path, "o_orderstatus", ["F"])
    return _final_select(spark.read.parquet(path))


# --------------------------------------------------------------------------
# Savepoint → restore (Hudi savepoint/restore actions): commit 1 = full
# load, commit 2 = good updates (%3: ×2, +30d), savepoint at 2, commit
# 3 = a bad batch (%2: price zeroed). restore_to(2) drops commit 3 from
# the timeline, so the realtime read equals state-as-of-2 — the oracle
# replays only load + good updates.
# --------------------------------------------------------------------------


@query(
    "timeline_restore_savepoint",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 3 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def timeline_restore_savepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "restore_sp")
    commit_append(spark, orders, path, 1)
    good = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    commit_append(spark, good, path, 2)
    savepoint(spark, path, 2)
    bad = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.lit(0.0)
    ).withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    commit_append(spark, bad, path, 3)
    restore_to(spark, path, 2)
    return _final_select(
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
    )


# --------------------------------------------------------------------------
# Cleaner retention (Hudi hoodie.cleaner.commits.retained): four commits
# land (load; %3 +30d ×2; %5 +60d ×3; %7 +90d ×4), then the cleaner
# retains the last 2 — commits 1..3 collapse into a base at instant 3.
# Current state is UNCHANGED by cleaning (the invariant that makes a
# cleaner safe to run continuously): the oracle folds all four batches.
# --------------------------------------------------------------------------


@query(
    "timeline_cleaned_read",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 60 DAY, 3
  FROM orders WHERE o_orderkey % 5 = 0
),
c4 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 4.0,
         o_orderdate + INTERVAL 90 DAY, 4
  FROM orders WHERE o_orderkey % 7 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
  UNION ALL SELECT * FROM c4
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def timeline_cleaned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "cleaned_read")
    commit_append(spark, orders, path, 1)
    for mod, mult, days, ts in ((3, 2.0, 30, 2), (5, 3.0, 60, 3), (7, 4.0, 90, 4)):
        batch = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * mult)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAYS")
            )
        )
        commit_append(spark, batch, path, ts)
    horizon = clean_timeline(
        spark, path, ["o_orderkey"], "o_orderdate", retain_last=2
    )
    assert horizon == 3, f"cleaner horizon {horizon} != 3"
    return _final_select(
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
    )


# --------------------------------------------------------------------------
# bulk_insert GLOBAL_SORT (Hudi's initial-load operation + default sort
# mode): the load is range-partitioned and sorted by key so parquet
# footers carry disjoint key ranges — the layout the SIMPLE file index
# prunes on (disjointness asserted file-level in tests/test_lifecycle.py).
# Content round-trip is the oracle: layout must never change data.
# --------------------------------------------------------------------------


@query(
    "bulk_insert_global_sort",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM orders
ORDER BY o_orderkey, o_orderstatus
""",
)
def bulk_insert_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "bulk_insert")
    bulk_insert(
        spark, orders, path, sort_cols=["o_orderkey"], mode="GLOBAL_SORT"
    )
    return _final_select(spark.read.parquet(path))


# --------------------------------------------------------------------------
# Timeline-native CDC (Hudi's incremental query in cdc format): change
# rows between state-as-of-1 and the latest state, computed from the
# delta commits with touched-key semi-join pruning — never by diffing
# two materialized snapshots. Commit 2 updates %3 (+30d, ×2); commit 3
# updates %7 (+90d, ×3) and deletes %10 (delete records, +60d). A key in
# both %7 and %10 keeps its update (the in-commit delete loses the
# precombine race) — the oracle replays the same fold.
# --------------------------------------------------------------------------


@query(
    "timeline_cdc_incremental",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, FALSE AS deleted, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 90 DAY, FALSE, 3
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderdate + INTERVAL 60 DAY, TRUE, 3
  FROM orders WHERE o_orderkey % 10 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
         FALSE AS deleted, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
),
after AS (SELECT * FROM ranked WHERE rn = 1 AND NOT deleted),
before AS (SELECT * FROM orders)
SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN a.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type
FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
   OR b.o_orderstatus <> a.o_orderstatus
   OR b.o_totalprice <> a.o_totalprice
   OR b.o_orderdate <> a.o_orderdate
ORDER BY o_orderkey
""",
)
def timeline_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import timeline_cdc

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "timeline_cdc")
    base = orders.withColumn("deleted", F.lit(False))
    commit_append(spark, base, path, 1)
    c2 = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("deleted", F.lit(False))
    )
    commit_append(spark, c2, path, 2)
    c3 = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .withColumn("deleted", F.lit(False))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .withColumn("deleted", F.lit(True))
        )
    )
    commit_append(spark, c3, path, 3)
    return (
        timeline_cdc(
            spark, path, ["o_orderkey"], "o_orderdate", since=1,
            delete_col="deleted",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Index-accelerated point lookup (the read-path twin of the bloom-index
# writer): the orders table is written hash-scattered with its _bloom
# sidecar, then a fixed key set is read back scanning only the files the
# blooms admit (file-count pruning evidence in tests/test_lifecycle.py).
# Results must be exactly the plain filter — the residual predicate
# absorbs bloom false positives.
# --------------------------------------------------------------------------

_LOOKUP_KEYS = [1, 2, 3, 7, 32, 33, 1000, 4999, 999999999]


@query(
    "indexed_point_lookup",
    oracle=f"""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM orders WHERE o_orderkey IN ({", ".join(str(k) for k in _LOOKUP_KEYS)})
ORDER BY o_orderkey
""",
)
def indexed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import (
        read_point_lookup,
        upsert_parquet_bloom_indexed,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "point_lookup")
    # First write through the bloom writer: data + manifest + sidecar.
    upsert_parquet_bloom_indexed(
        spark,
        orders.repartition(16, F.col("o_orderkey")),
        path,
        "o_orderkey",
        "o_orderdate",
    )
    return (
        read_point_lookup(spark, path, "o_orderkey", _LOOKUP_KEYS)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Streaming ingest into the MOR timeline (Hudi deltastreamer shape): a
# file-source stream drains through foreachBatch commit_append — each
# micro-batch is an immutable O(batch) delta commit — and the realtime
# read folds the result. Updates carry strictly newer event times, so
# the fold is batch-assignment-invariant (latest precombine wins no
# matter how files were grouped into micro-batches); the oracle is the
# same window fold over base ∪ updates.
# --------------------------------------------------------------------------


@query(
    "streaming_timeline_ingest",
    oracle="""
WITH upd AS (
  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
         value + 100.0 AS value, 1 AS b
  FROM events WHERE event_id % 3 = 0
),
unioned AS (
  SELECT event_id, ts, user_id, event_type, value, 0 AS b FROM events
  UNION ALL SELECT * FROM upd
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_id ORDER BY ts DESC, b DESC) AS rn
  FROM unioned
)
SELECT event_id, user_id, event_type, round(value, 2) AS value_r,
       CAST(ts AS TIMESTAMP) AS ts
FROM ranked WHERE rn = 1
ORDER BY event_id
""",
)
def streaming_timeline_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import read_realtime
    from ..streaming.windows import foreach_batch_timeline_commit

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upd = (
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 100.0)
    )
    stage = scratch(sf_dir, "stream_tl_in")
    target = scratch(sf_dir, "stream_tl_out")
    chk = scratch(sf_dir, "stream_tl_chk")
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    upd.repartition(2).write.mode("append").parquet(stage)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)  # force several micro-batches
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_timeline_commit(target))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        read_realtime(spark, target, ["event_id"], "ts")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value_r"),
            "ts",
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# ANSI MERGE INTO (operators/merge.py::merge_into — the SQL surface Hudi
# exposes over its upsert machinery): one statement updates matched %6
# keys (price doubles, +30d), deletes matched %10 keys (cancel flag),
# and inserts unmatched clones (%500 → key+1e9). Oracle = left join with
# per-case CASE + the insert union. (%6 ∩ %10 keys are excluded from the
# update arm: one source row per key — the MERGE cardinality rule, which
# the operator enforces with a runtime raise.)
# --------------------------------------------------------------------------


@query(
    "merge_into_orders",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_totalprice * 2.0 AS new_price,
         o_orderdate + INTERVAL 30 DAY AS new_date, FALSE AS cancel
  FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderdate, TRUE
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM (
  SELECT o.o_orderkey, o.o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL AND NOT s.cancel
              THEN s.new_price ELSE o.o_totalprice END AS o_totalprice,
         CASE WHEN s.o_orderkey IS NOT NULL AND NOT s.cancel
              THEN s.new_date ELSE o.o_orderdate END AS o_orderdate
  FROM orders o LEFT JOIN src s USING (o_orderkey)
  WHERE s.o_orderkey IS NULL OR NOT s.cancel
  UNION ALL
  SELECT o_orderkey + 1000000000, 'P', o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 500 = 0
)
ORDER BY o_orderkey
""",
)
def merge_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_into

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    src = (
        orders.filter(
            (F.col("o_orderkey") % 6 == 0) & (F.col("o_orderkey") % 10 != 0)
        )
        .select(
            "o_orderkey",
            F.lit("P").alias("o_orderstatus"),
            (F.col("o_totalprice") * 2.0).alias("o_totalprice"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("o_orderdate"),
            F.lit(False).alias("cancel"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                F.lit(True).alias("cancel"),
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                F.lit("P").alias("o_orderstatus"),
                "o_totalprice", "o_orderdate",
                F.lit(False).alias("cancel"),
            )
        )
    )
    merged = merge_into(
        orders,
        src,
        ["o_orderkey"],
        when_matched_update={
            "o_totalprice": "s.o_totalprice",
            "o_orderdate": "s.o_orderdate",
        },
        when_matched_delete="s.cancel",
        when_not_matched_insert=True,
    )
    return _final_select(merged).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# SCD2 point-in-time join (training-data temporal correctness): each
# purchase event is enriched with the user's status AS OF the purchase
# instant — the status dimension is the SCD2 change-point table built
# from the user's NON-purchase events, and the join is the as-of
# operator (union-window form: one shuffle, no range blowup). This is
# the "no feature leakage" join a feature-store backfill needs: a later
# status change must never bleed into an earlier purchase. Oracle =
# DuckDB native ASOF LEFT JOIN against the identically-built dimension.
# --------------------------------------------------------------------------


@query(
    "scd2_point_in_time_join",
    oracle="""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
  FROM events
),
chg AS (
  SELECT user_id, event_type AS status, ts AS effective_from
  FROM (
    SELECT user_id, event_type, ts,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM ev WHERE event_type <> 'purchase'
  )
  WHERE prev IS NULL OR prev <> event_type
),
p AS (SELECT event_id, ts, user_id, round(value, 2) AS purchase_value
      FROM ev WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.purchase_value,
       COALESCE(c.status, 'unknown') AS status_at_purchase
FROM p ASOF LEFT JOIN chg c
  ON p.user_id = c.user_id AND c.effective_from <= p.ts
ORDER BY p.event_id
""",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.latest import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("effective_from"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.round("value", 2).alias("purchase_value")
    )
    joined = asof_join(
        purchases, dim, ["user_id"], "ts", "effective_from", ["status"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.coalesce(F.col("status"), F.lit("unknown")).alias("status_at_purchase"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Incremental percentiles from a mergeable histogram state (the additive-
# sketch pattern): batch 1 (%2 keys) builds an O(bins) state, batch 2
# refreshes it additively — history is never re-read — and p50/p90/p99
# come from one window over the 200-row state. Deterministic (fixed
# bins), so unlike GK/t-digest the whole incremental pipeline value-
# checks: the oracle computes identical bins over the full table.
# --------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 600000.0, 200


@query(
    "incremental_percentile_histogram",
    oracle=f"""
WITH binned AS (
  SELECT least(greatest(CAST(floor((o_totalprice - {_HIST_LO}) /
           (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})) AS INT), 0),
         {_HIST_BINS} - 1) AS bin
  FROM orders
),
state AS (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin),
cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
         (SELECT sum(cnt) FROM state) AS total
  FROM state
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
hit AS (
  SELECT q, bin, row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
  FROM qs JOIN cum ON cum >= q * total
)
SELECT q, round({_HIST_LO} + (bin + 1) * (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS}), 4)
       AS value_est
FROM hit WHERE rn = 1 ORDER BY q
""",
)
def incremental_percentile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import (
        histogram_state,
        merge_histogram_state,
        percentiles_from_histogram,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    kw = dict(lo=_HIST_LO, hi=_HIST_HI, n_bins=_HIST_BINS)
    s1 = histogram_state(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_totalprice", **kw
    )
    s2 = histogram_state(
        orders.filter(F.col("o_orderkey") % 2 != 0), "o_totalprice", **kw
    )
    state = merge_histogram_state(s1, s2)
    return percentiles_from_histogram(state, [0.5, 0.9, 0.99], **kw).select(
        "q", F.round("value_est", 4).alias("value_est")
    )


# --------------------------------------------------------------------------
# Secondary-index lookup (Hudi 1.0 secondary indexes): orders is laid
# out by ORDER KEY (bulk-insert GLOBAL_SORT — custkey is scattered
# across every file, so neither the primary index nor footer ranges can
# prune a customer query), then a bloom sidecar on o_custkey serves
# "orders of these customers" with file pruning (evidence in
# tests/test_lifecycle.py). Residual filter keeps results exact.
# --------------------------------------------------------------------------

_CUST_KEYS = [1, 7, 55, 101, 733]


@query(
    "secondary_index_lookup",
    oracle=f"""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM orders WHERE o_custkey IN ({", ".join(str(k) for k in _CUST_KEYS)})
ORDER BY o_orderkey
""",
)
def secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import build_secondary_index, read_point_lookup

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "secondary_idx")
    bulk_insert(
        spark, orders, path, sort_cols=["o_orderkey"], mode="GLOBAL_SORT"
    )
    build_secondary_index(spark, path, "o_custkey")
    return (
        read_point_lookup(spark, path, "o_custkey", _CUST_KEYS, primary=False)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Metadata-only bootstrap (Hudi bootstrap operation): an existing plain
# parquet orders table is adopted as the timeline's base WITHOUT copying
# a file (only a marker lands), then a delta commit updates %3 keys and
# the realtime read folds marker-base + delta. The no-copy property and
# marker retirement on compaction are asserted file-level in
# tests/test_lifecycle.py; the oracle is the usual window fold.
# --------------------------------------------------------------------------


@query(
    "timeline_bootstrap_read",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 3 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def timeline_bootstrap_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import bootstrap_timeline

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    legacy = scratch(sf_dir, "legacy_orders")
    orders.write.mode("overwrite").parquet(legacy)
    path = scratch(sf_dir, "bootstrap_tl")
    bootstrap_timeline(spark, legacy, path, commit_ts=1)
    upd = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    commit_append(spark, upd, path, 2)
    return _final_select(
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
    )


# --------------------------------------------------------------------------
# CDC with before/after images (Hudi cdc-format payload): the same
# timeline as timeline_cdc_incremental, but each change row carries the
# full before and after images — what an audit/reverse-ETL consumer
# applies. Same single full-outer join; images are one extra projection.
# --------------------------------------------------------------------------


@query(
    "timeline_cdc_images",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, FALSE AS deleted, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 90 DAY, FALSE, 3
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderdate + INTERVAL 60 DAY, TRUE, 3
  FROM orders WHERE o_orderkey % 10 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
         FALSE AS deleted, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
),
after AS (SELECT * FROM ranked WHERE rn = 1 AND NOT deleted),
before AS (SELECT * FROM orders)
SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN a.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       round(b.o_totalprice, 2) AS before_price,
       round(a.o_totalprice, 2) AS after_price,
       b.o_orderdate AS before_date,
       a.o_orderdate AS after_date
FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
   OR b.o_orderstatus <> a.o_orderstatus
   OR b.o_totalprice <> a.o_totalprice
   OR b.o_orderdate <> a.o_orderdate
ORDER BY o_orderkey
""",
)
def timeline_cdc_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import timeline_cdc

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "timeline_cdc_img")
    commit_append(spark, orders.withColumn("deleted", F.lit(False)), path, 1)
    c2 = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("deleted", F.lit(False))
    )
    commit_append(spark, c2, path, 2)
    c3 = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .withColumn("deleted", F.lit(False))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .withColumn("deleted", F.lit(True))
        )
    )
    commit_append(spark, c3, path, 3)
    cdc = timeline_cdc(
        spark, path, ["o_orderkey"], "o_orderdate", since=1,
        delete_col="deleted", images=True,
    )
    return cdc.select(
        "o_orderkey",
        "change_type",
        F.round("before_o_totalprice", 2).alias("before_price"),
        F.round("after_o_totalprice", 2).alias("after_price"),
        F.col("before_o_orderdate").alias("before_date"),
        F.col("after_o_orderdate").alias("after_date"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Record-level commit metadata (Hudi's _hoodie_commit_time): the
# realtime read surfaces each row's winning commit instant — per-row
# lineage for audits and incremental consumers. The oracle's window fold
# carries the winning batch tag through.
# --------------------------------------------------------------------------


@query(
    "timeline_read_with_meta",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 60 DAY, 3
  FROM orders WHERE o_orderkey % 5 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, round(o_totalprice, 2) AS total_price,
       CAST(c AS BIGINT) AS wrote_at
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def timeline_read_with_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "tl_meta")
    commit_append(spark, orders, path, 1)
    for mod, mult, days, ts in ((3, 2.0, 30, 2), (5, 3.0, 60, 3)):
        batch = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * mult)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAYS")
            )
        )
        commit_append(spark, batch, path, ts)
    return (
        read_realtime(
            spark, path, ["o_orderkey"], "o_orderdate", meta_col="wrote_at"
        )
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("wrote_at").cast("long").alias("wrote_at"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# DESCRIBE HISTORY (Hudi `show commits` / Delta history): the timeline's
# operational ledger — a metadata-only listing of instants with action
# kinds and savepoint pins. The constructed timeline is deterministic,
# so the oracle is the literal expected ledger.
# --------------------------------------------------------------------------


@query(
    "timeline_describe_history",
    oracle="""
SELECT * FROM (VALUES
  (CAST(2 AS BIGINT), 'compaction', FALSE),
  (CAST(3 AS BIGINT), 'commit', TRUE),
  (CAST(4 AS BIGINT), 'commit', FALSE)
) AS t(instant, action, savepointed)
ORDER BY instant
""",
)
def timeline_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import (
        compact_timeline,
        savepoint,
        timeline_history,
    )

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "tl_history")
    commit_append(spark, orders.limit(100), path, 1)
    commit_append(spark, orders.limit(50), path, 2)
    compact_timeline(spark, path, ["o_orderkey"], "o_orderdate", 2)
    commit_append(spark, orders.limit(20), path, 3)
    savepoint(spark, path, 3)
    commit_append(spark, orders.limit(10), path, 4)
    return timeline_history(spark, path).orderBy("instant")


# --------------------------------------------------------------------------
# STREAMING SCD2 point-in-time enrichment: the batch PIT join's
# streaming twin — purchases arrive as a stream and each joins the
# static SCD2 dimension on its validity interval (effective_from ≤ ts <
# effective_to). Intervals are non-overlapping and cover each user's
# axis past the first version, so every fact matches AT MOST one
# version: the join is stateless on the stream side (static dim
# broadcasts; no watermark state at all) — the cheapest possible
# streaming enrichment shape. Oracle = the same interval join in SQL.
# --------------------------------------------------------------------------


@query(
    "streaming_scd2_enrich",
    oracle="""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
  FROM events
),
chg AS (
  SELECT user_id, status, effective_from,
         lead(effective_from) OVER (PARTITION BY user_id
                                    ORDER BY effective_from, eid) AS effective_to
  FROM (
    SELECT user_id, event_type AS status, ts AS effective_from, event_id AS eid,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM ev WHERE event_type <> 'purchase'
  )
  WHERE prev IS NULL OR prev <> status
),
p AS (SELECT event_id, ts, user_id, round(value, 2) AS purchase_value
      FROM ev WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.purchase_value,
       COALESCE(c.status, 'unknown') AS status_at_purchase
FROM p LEFT JOIN chg c
  ON p.user_id = c.user_id AND c.effective_from <= p.ts
  AND (c.effective_to IS NULL OR p.ts < c.effective_to)
ORDER BY p.event_id
""",
)
def streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            F.col("user_id").alias("d_user_id"),
            F.col("event_type").alias("status"),
            F.col("ts").alias("effective_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("effective_to"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    stage = scratch(sf_dir, "stream_scd2")
    purchases.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(purchases.schema).parquet(stage)
    joined = stream.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("effective_from") <= F.col("ts"))
        & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))),
        "left",
    )
    qname = os.path.basename(stage)
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("purchase_value"),
            F.coalesce(F.col("status"), F.lit("unknown")).alias(
                "status_at_purchase"
            ),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Record-level-indexed upsert (Hudi 1.0 RECORD_INDEX): the same
# update/insert batch as the bloom query merges through the EXACT
# key→file index — same canonical window-fold oracle, because an index
# must never change the result; exactness evidence (single-file
# rewrites) is file-level in tests/test_lifecycle.py.
# --------------------------------------------------------------------------


@query(
    "upsert_record_indexed",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 9 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, o_orderdate, 1
  FROM orders WHERE o_orderkey % 333 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def upsert_record_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import (
        read_indexed_table,
        upsert_parquet_record_indexed,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "rli_upsert")
    upsert_parquet_record_indexed(
        spark,
        orders.repartition(16, F.col("o_orderkey")),
        path,
        "o_orderkey",
        "o_orderdate",
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 333 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000000
    )
    upsert_parquet_record_indexed(
        spark, updates.unionByName(inserts), path, "o_orderkey", "o_orderdate"
    )
    return (
        read_indexed_table(spark, path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Rollback (Hudi rollback action): a bad batch lands as commit 3 and is
# rolled back — the realtime read equals state-as-of-2 (load + good
# updates). Oracle replays only the surviving commits.
# --------------------------------------------------------------------------


@query(
    "timeline_rollback_read",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 3 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def timeline_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import rollback_last

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "rollback_tl")
    commit_append(spark, orders, path, 1)
    good = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    commit_append(spark, good, path, 2)
    bad = orders.withColumn("o_totalprice", F.lit(0.0)).withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    commit_append(spark, bad, path, 3)
    assert rollback_last(spark, path) == 3
    return _final_select(
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
    )


# --------------------------------------------------------------------------
# Clustering table service (Hudi clustering/replacecommit): a scattered
# bloom-indexed table is reclustered key-sorted; the manifest-consistent
# read must be IDENTICAL before and after (arrangement, never data) —
# the oracle is the plain table; layout tightness is asserted file-level
# in tests/test_lifecycle.py.
# --------------------------------------------------------------------------


@query(
    "recluster_scan_equivalence",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM orders
ORDER BY o_orderkey
""",
)
def recluster_scan_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import (
        read_indexed_table,
        recluster_indexed_table,
        upsert_parquet_bloom_indexed,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "recluster_eq")
    upsert_parquet_bloom_indexed(
        spark,
        orders.repartition(16, F.col("o_orderkey")),
        path,
        "o_orderkey",
        "o_orderdate",
    )
    recluster_indexed_table(spark, path, "o_orderkey", n_files=8)
    return (
        read_indexed_table(spark, path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Lakehouse end-to-end showcase: a legacy parquet table is adopted with
# a METADATA-ONLY bootstrap (no rewrite), a stream of update batches
# drains through the exactly-once foreachBatch timeline sink, the
# NUM_COMMITS trigger fires an automatic compaction, and the realtime
# (MOR) read feeds a per-status revenue rollup — bootstrap → streaming
# ingest → table service → snapshot analytics in ONE declarative chain.
# The oracle folds the same deterministic batches and aggregates.
# --------------------------------------------------------------------------


@query(
    "lakehouse_end_to_end",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 2 AS c
  FROM orders WHERE o_orderkey % 4 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 60 DAY, 3
  FROM orders WHERE o_orderkey % 6 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
),
state AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
    FROM unioned
  ) WHERE rn = 1
)
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM state GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def lakehouse_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import (
        bootstrap_timeline,
        compaction_instants,
        maybe_compact,
    )
    from ..streaming.windows import foreach_batch_timeline_commit

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    legacy = scratch(sf_dir, "e2e_legacy")
    orders.write.mode("overwrite").parquet(legacy)
    tl = scratch(sf_dir, "e2e_tl")
    chk = scratch(sf_dir, "e2e_chk")
    stage = scratch(sf_dir, "e2e_stage")

    # 1. Adopt the legacy table without copying a file.
    bootstrap_timeline(spark, legacy, tl, commit_ts=1)

    # 2. Stream two update batches through the exactly-once sink
    #    (fold is batch-assignment-invariant: precombine strictly newer).
    c2 = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    c3 = (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    c2.coalesce(1).write.mode("overwrite").parquet(stage)
    c3.coalesce(1).write.mode("append").parquet(stage)
    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(
            foreach_batch_timeline_commit(tl, base_instant=1)
        )
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # 3. Table service: the delta tail (2) exceeds max_deltas=1 → the
    #    trigger compacts; current state must be invariant.
    maybe_compact(spark, tl, ["o_orderkey"], "o_orderdate", max_deltas=1)
    assert compaction_instants(tl), "auto-compaction did not fire"

    # 4. Snapshot analytics off the MOR read.
    return (
        read_realtime(spark, tl, ["o_orderkey"], "o_orderdate")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Inline-compaction trigger (hoodie.compact.inline.max.delta.commits):
# three deltas land after the load; max_deltas=2 fires a compaction at
# the newest instant and the realtime read is INVARIANT — the property
# that makes inline compaction safe to run after every commit. Oracle =
# fold of all four batches.
# --------------------------------------------------------------------------


@query(
    "timeline_auto_compact_read",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 60 DAY, 3
  FROM orders WHERE o_orderkey % 5 = 0
),
c4 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 4.0,
         o_orderdate + INTERVAL 90 DAY, 4
  FROM orders WHERE o_orderkey % 7 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
  UNION ALL SELECT * FROM c4
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def timeline_auto_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import compaction_instants, maybe_compact

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "auto_compact")
    commit_append(spark, orders, path, 1)
    for mod, mult, days, ts in ((3, 2.0, 30, 2), (5, 3.0, 60, 3), (7, 4.0, 90, 4)):
        batch = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * mult)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAYS")
            )
        )
        commit_append(spark, batch, path, ts)
    assert maybe_compact(
        spark, path, ["o_orderkey"], "o_orderdate", max_deltas=2
    ) == 4
    assert compaction_instants(path) == [4]
    return _final_select(
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
    )


# --------------------------------------------------------------------------
# CDC APPLY — Change-Data-Feed-driven downstream sync (Delta CDF /
# Hudi incremental-ETL's canonical consumer): a DERIVED table (the
# filtered projection `o_totalprice > 150000`) is seeded from the
# base commit and then kept in sync purely by applying the CDC feed's
# AFTER-images — update/insert rows upsert when the after-image still
# satisfies the predicate, and rows whose after-image fails it (or
# whose change is a delete) become delete records. The upstream table
# is never re-read after the seed: downstream cost is O(changes), the
# reason CDC feeds exist. Oracle = the predicate over the fully folded
# final upstream state — proving the incremental apply converges to
# the from-scratch recompute.
# --------------------------------------------------------------------------


@query(
    "cdc_apply_downstream",
    oracle="""
WITH c2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, FALSE AS deleted, 2 AS c
  FROM orders WHERE o_orderkey % 3 = 0
),
c3 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3.0,
         o_orderdate + INTERVAL 90 DAY, FALSE, 3
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderdate + INTERVAL 60 DAY, TRUE, 3
  FROM orders WHERE o_orderkey % 10 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
         FALSE AS deleted, 1 AS c
  FROM orders
  UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, c DESC) AS rn
  FROM unioned
),
after AS (SELECT * FROM ranked WHERE rn = 1 AND NOT deleted)
SELECT o_orderkey, o_orderstatus,
       round(o_totalprice, 2) AS total_price, o_orderdate
FROM after WHERE o_totalprice > 150000
ORDER BY o_orderkey
""",
)
def cdc_apply_downstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import read_indexed_table, upsert_parquet
    from ..operators.timeline import timeline_cdc

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    tl = scratch(sf_dir, "cdc_apply_tl")
    base = orders.withColumn("deleted", F.lit(False))
    commit_append(spark, base, tl, 1)
    c2 = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("deleted", F.lit(False))
    )
    commit_append(spark, c2, tl, 2)
    c3 = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .withColumn("deleted", F.lit(False))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .withColumn("deleted", F.lit(True))
        )
    )
    commit_append(spark, c3, tl, 3)

    pred = F.col("o_totalprice") > 150000
    ds = scratch(sf_dir, "cdc_apply_ds")
    seed = (
        orders.filter(pred)
        .withColumn("v", F.lit(1))
        .withColumn("gone", F.lit(False))
    )
    upsert_parquet(spark, seed, ds, ["o_orderkey"], "v", delete_col="gone")
    # The apply batch is built from the CDC feed ALONE (after-images):
    # a change whose after-image satisfies the predicate upserts it into
    # the derived table (this also INSERTS keys the update moved into
    # the predicate); delete changes and predicate-failing after-images
    # become delete records (a no-op when the key never qualified).
    cdc = timeline_cdc(
        spark, tl, ["o_orderkey"], "o_orderdate", since=1,
        delete_col="deleted", images=True,
    )
    after_pred = F.col("after_o_totalprice") > 150000
    batch = cdc.select(
        "o_orderkey",
        F.col("after_o_orderstatus").alias("o_orderstatus"),
        F.col("after_o_totalprice").alias("o_totalprice"),
        F.col("after_o_orderdate").alias("o_orderdate"),
        F.lit(2).alias("v"),
        (
            (F.col("change_type") == "delete")
            | ~F.coalesce(after_pred, F.lit(False))
        ).alias("gone"),
    )
    upsert_parquet(spark, batch, ds, ["o_orderkey"], "v", delete_col="gone")
    return (
        read_indexed_table(spark, ds)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Compaction PLANNING (Hudi's schedule/execute split): bin-pack small
# files into target-byte groups per partition, from the file-stats
# relation alone. The listing here is derived deterministically from
# orders (one "file" per (order date, status), bytes = 100·rows,
# partition = month) so the oracle replays the identical plan; the
# planner against a real filesystem listing is exercised in
# tests/test_maintenance_plan.py.
# --------------------------------------------------------------------------


@query(
    "compaction_plan_monthly",
    oracle="""
WITH files AS (
  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS part,
         CAST(o_orderdate AS VARCHAR) || '_' || o_orderstatus AS file,
         count(*) * 100 AS bytes
  FROM orders GROUP BY 1, 2
),
small AS (SELECT * FROM files WHERE bytes < 20000),
binned AS (
  SELECT part, file, bytes,
         CAST((sum(bytes) OVER (PARTITION BY part
                                ORDER BY bytes DESC, file
                                ROWS UNBOUNDED PRECEDING) - bytes)
              // 40000 AS INT) AS bin_id
  FROM small
)
SELECT part, bin_id, count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       array_to_string(list_sort(list(file)), ',') AS files_csv
FROM binned GROUP BY part, bin_id
HAVING count(*) >= 2
ORDER BY part, bin_id
""",
)
def compaction_plan_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import compaction_plan

    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("part"),
        F.concat_ws(
            "_", F.col("o_orderdate").cast("string"), "o_orderstatus"
        ).alias("file"),
    ).agg((F.count(F.lit(1)) * 100).alias("bytes"))
    return compaction_plan(
        files,
        partition_col="part",
        target_bytes=40000,
        small_file_limit=20000,
    )


# --------------------------------------------------------------------------
# TTL retention enforcement: month-partitioned orders, cutoff
# 1995-09-15 — months before 1995-09 drop as whole partitions
# (metadata-only), the boundary month is the single partition rewritten
# row-level, later months untouched. The oracle recomputes the retained
# set from the raw table: two-tier delete ≡ one predicate.
# --------------------------------------------------------------------------


@query(
    "retention_expire_orders",
    oracle="""
SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders WHERE o_orderdate >= DATE '1995-09-15'
GROUP BY 1 ORDER BY month
""",
)
def retention_expire_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tableops import retention_delete

    o = load_table(spark, sf_dir, "orders").withColumn(
        "month", F.substring(F.col("o_orderdate").cast("string"), 1, 7)
    )
    path = scratch(sf_dir, "retention_orders")
    o.write.mode("overwrite").partitionBy("month").parquet(path)
    retention_delete(
        spark,
        path,
        "month",
        F.col("o_orderdate") >= F.lit("1995-09-15").cast("date"),
        "1995-09",
    )
    return (
        spark.read.parquet(path)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Shallow clone + divergence (operators/timeline.py::shallow_clone —
# Delta-style zero-copy SHALLOW CLONE; Hudi users branch 100 TB tables
# for dev/test/experiments without copying data). orders lands as commit
# 1; the SOURCE then restates prices (keys %5, commit 2); the table is
# cloned AT instant 1 (pin_source) so the clone never sees the
# restatement; the CLONE flips statuses (keys %7, its own commit 2).
# Output compares the two diverged states per touched key. The oracle
# recomputes both end-states independently from the raw table: the
# source state is base+price-restatement, the clone state is
# base+status-flip — isolation in both directions is exactly what the
# hash check proves.
# --------------------------------------------------------------------------


@query(
    "table_clone_divergence",
    oracle="""
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus AS src_status,
         round(CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice * 2.0 ELSE o_totalprice END,
               2) AS src_price
  FROM orders
),
cl AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0
              THEN 'X' ELSE o_orderstatus END AS clone_status,
         round(o_totalprice, 2) AS clone_price
  FROM orders
)
SELECT src.o_orderkey, src_status, clone_status, src_price, clone_price,
       (src_status <> clone_status OR src_price <> clone_price) AS diverged
FROM src JOIN cl ON src.o_orderkey = cl.o_orderkey
WHERE src.o_orderkey % 5 = 0 OR src.o_orderkey % 7 = 0
ORDER BY src.o_orderkey
""",
)
def table_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeline import (
        commit_append,
        read_realtime,
        shallow_clone,
    )

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    src_path = scratch(sf_dir, "clone_src")
    dst_path = scratch(sf_dir, "clone_dst")
    commit_append(spark, orders, src_path, 1)
    # Source-side restatement committed BEFORE the clone is taken —
    # cloning at as_of=1 must still never see it (time-travel clone).
    src_batch = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2.0
    ).withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS"))
    commit_append(spark, src_batch, src_path, 2)
    shallow_clone(spark, src_path, dst_path, as_of=1, pin_source=True)
    clone_batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    ).withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 20 DAYS"))
    commit_append(spark, clone_batch, dst_path, 2)
    src_state = read_realtime(
        spark, src_path, ["o_orderkey"], "o_orderdate"
    ).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("src_status"),
        F.round("o_totalprice", 2).alias("src_price"),
    )
    clone_state = read_realtime(
        spark, dst_path, ["o_orderkey"], "o_orderdate"
    ).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("clone_status"),
        F.round("o_totalprice", 2).alias("clone_price"),
    )
    return (
        src_state.join(clone_state, "o_orderkey")
        .filter(
            (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 == 0)
        )
        .select(
            "o_orderkey",
            "src_status",
            "clone_status",
            "src_price",
            "clone_price",
            (
                (F.col("src_status") != F.col("clone_status"))
                | (F.col("src_price") != F.col("clone_price"))
            ).alias("diverged"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Atomic multi-table transaction (operators/txn.py — catalog CAS above
# the per-table manifest protocol; the Iceberg-REST/Nessie multi-table
# commit Hudi lacks). A base orders table and its downstream status
# aggregate are kept transactionally consistent: txn 1 seeds both, txn
# 2 applies a price restatement to the base AND the matching refreshed
# aggregate in ONE commit, then a TORN third write (per-table manifest
# published, catalog CAS never reached — the crash window) hits the
# base table only. Output reads BOTH tables through the catalog — the
# aggregate as stored, and the same aggregate recomputed from the base
# — under 'agg'/'base' source tags. The oracle recomputes ONE post-txn-2
# aggregate from raw orders and emits it under both tags: a hash match
# therefore proves (1) the torn write is invisible and (2) the two
# tables agree — the invariant the transaction exists to protect. Money
# sums run as DECIMAL(18,2) (bit-exact in both engines).
# --------------------------------------------------------------------------


@query(
    "multi_table_txn_sync",
    oracle="""
WITH upd AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2.0
              ELSE o_totalprice END AS p
  FROM orders
),
agg AS (
  SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
  FROM upd GROUP BY o_orderstatus
)
SELECT 'agg' AS src, o_orderstatus, n_orders, total_price FROM agg
UNION ALL
SELECT 'base' AS src, o_orderstatus, n_orders, total_price FROM agg
ORDER BY src, o_orderstatus
""",
)
def multi_table_txn_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import upsert_parquet_indexed
    from ..operators.txn import read_table_at_catalog, txn_commit

    root = scratch(sf_dir, "txn_cat")
    base_path = os.path.join(root, "orders_cow")
    agg_path = os.path.join(root, "status_agg")
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)

    def status_agg(df: DataFrame, ver: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.lit(ver).cast("long").alias("ver"),
        )

    # txn 1: seed base + aggregate together
    txn_commit(
        spark,
        root,
        [
            ("orders_cow", base_path, orders, "o_orderkey", "o_orderdate"),
            ("status_agg", agg_path, status_agg(orders, 1), "o_orderstatus", "ver"),
        ],
        expected_catalog_version=0,
    )
    # txn 2: price restatement on the base AND the refreshed aggregate,
    # one atomic commit (the aggregate batch is derived from the same
    # update expression — a writer sees its own in-flight writes).
    restated = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") * 2.0
        ).otherwise(F.col("o_totalprice")),
    )
    batch = restated.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 5 DAYS")
    )
    txn_commit(
        spark,
        root,
        [
            ("orders_cow", base_path, batch, "o_orderkey", "o_orderdate"),
            ("status_agg", agg_path, status_agg(restated, 2), "o_orderstatus", "ver"),
        ],
        expected_catalog_version=1,
    )
    # TORN write: per-table manifest published, catalog CAS never
    # reached — must stay invisible below.
    torn = orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 3.0
    ).withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 9 DAYS"))
    upsert_parquet_indexed(
        spark, torn, base_path, "o_orderkey", "o_orderdate", clean=False
    )

    agg_read = read_table_at_catalog(spark, root, "status_agg", agg_path).select(
        F.lit("agg").alias("src"), "o_orderstatus", "n_orders", "total_price"
    )
    base_read = (
        read_table_at_catalog(spark, root, "orders_cow", base_path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(F.lit("base").alias("src"), "o_orderstatus", "n_orders", "total_price")
    )
    return agg_read.unionByName(base_read).orderBy("src", "o_orderstatus")


# --------------------------------------------------------------------------
# Catalog branches (operators/txn.py::create_branch/merge_branch — the
# Nessie/Iceberg-REST ref model the reference's single-table Hudi
# timeline has no answer to). Main seeds 'orders_cow' (txn 1); branch
# 'restate' forks it zero-copy and applies a price restatement (%4 keys
# doubled) ON THE BRANCH; main meanwhile keeps reading its snapshot.
# The output aggregates orders by status under three tags read at three
# points: 'main_pre' (main while the branch diverges — MUST still be
# the original: write isolation), 'branch' (the restated fork), and
# 'main_post' (main after merge_branch — the fast-forward makes it the
# branch's state: atomicity of publish). Oracle recomputes the original
# and restated aggregates from raw orders and emits them under the
# matching tags, so a hash match proves isolation before the merge AND
# exact adoption after it. DECIMAL(18,2) sums are bit-exact cross-engine.
# --------------------------------------------------------------------------


@query(
    "branch_merge_isolation",
    oracle="""
WITH orig AS (
  SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
  FROM orders GROUP BY o_orderstatus
),
restated AS (
  SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2.0
                            ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
  FROM orders GROUP BY o_orderstatus
)
SELECT 'branch' AS src, * FROM restated
UNION ALL
SELECT 'main_post' AS src, * FROM restated
UNION ALL
SELECT 'main_pre' AS src, * FROM orig
ORDER BY src, o_orderstatus
""",
)
def branch_merge_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txn import (
        create_branch,
        merge_branch,
        read_table_at_catalog,
        txn_commit,
    )

    root = scratch(sf_dir, "txn_branch")
    path = os.path.join(root, "orders_cow")
    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)

    def tagged_agg(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(tag).alias("src"),
                "o_orderstatus",
                "n_orders",
                "total_price",
            )
        )

    txn_commit(
        spark, root, [("orders_cow", path, orders, "o_orderkey", "o_orderdate")]
    )
    create_branch(root, "restate")
    batch = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 5 DAYS"))
    )
    txn_commit(
        spark,
        root,
        [("orders_cow", path, batch, "o_orderkey", "o_orderdate")],
        branch="restate",
    )
    # Read main WHILE the branch has diverged — isolation evidence must
    # be materialized NOW (the merge below changes what main resolves).
    # The aggregate is |statuses| rows: snapshot it to the driver rather
    # than cache() (nothing to unpersist, nothing recomputed post-merge).
    pre_df = tagged_agg(
        read_table_at_catalog(spark, root, "orders_cow", path), "main_pre"
    )
    main_pre = local_frame(spark, pre_df.collect(), pre_df.schema)
    branch_read = tagged_agg(
        read_table_at_catalog(spark, root, "orders_cow", path, branch="restate"),
        "branch",
    )
    merge_branch(root, "restate")
    main_post = tagged_agg(
        read_table_at_catalog(spark, root, "orders_cow", path), "main_post"
    )
    return (
        branch_read.unionByName(main_post)
        .unionByName(main_pre)
        .orderBy("src", "o_orderstatus")
    )


# --------------------------------------------------------------------------
# GDPR / right-to-be-forgotten erasure (operators/txn.py delete-flag
# writes): subjects (custkeys % 97 == 0) are erased from BOTH the
# customer table and their orders in ONE atomic catalog commit — no
# reader can ever observe the subject half-deleted (deleted from
# customer, still in orders). Delete records ride the same precombine
# merge as updates (Hudi _hoodie_is_deleted), so the erasure is an
# ordinary indexed COW write per table + one catalog CAS. The output
# reads both tables back through the catalog and reports, per table,
# the remaining rowcount, a DECIMAL-exact amount sum, and `leaked` =
# how many erased-subject rows are still visible; the oracle filters
# the raw tables by the same predicate and emits leaked=0 literally —
# a hash match IS the proof of complete erasure. (Logical erasure:
# physical file reclamation is the retention vacuum's job, and any
# savepoint/branch pinning pre-delete versions blocks it — see
# txn_commit's docstring.)
# --------------------------------------------------------------------------


@query(
    "gdpr_erase_subject",
    oracle="""
SELECT 'customer' AS tbl, count(*) AS n_rows,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
       CAST(0 AS BIGINT) AS leaked
FROM customer WHERE c_custkey % 97 <> 0
UNION ALL
SELECT 'orders' AS tbl, count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
       CAST(0 AS BIGINT) AS leaked
FROM orders WHERE o_custkey % 97 <> 0
ORDER BY tbl
""",
)
def gdpr_erase_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.txn import read_table_at_catalog, txn_commit

    root = scratch(sf_dir, "txn_gdpr")
    cust_path = os.path.join(root, "customer_cow")
    ord_path = os.path.join(root, "orders_cow")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    txn_commit(
        spark,
        root,
        [
            ("customer_cow", cust_path, customer, "c_custkey", "c_custkey"),
            ("orders_cow", ord_path, orders, "o_orderkey", "o_orderdate"),
        ],
    )
    # Erasure transaction: delete records for the subject's rows in both
    # tables (equal precombine — batch rows beat existing on ties).
    cust_del = (
        read_table_at_catalog(spark, root, "customer_cow", cust_path)
        .filter(F.col("c_custkey") % 97 == 0)
        .withColumn("_erase", F.lit(True))
    )
    ord_del = (
        read_table_at_catalog(spark, root, "orders_cow", ord_path)
        .filter(F.col("o_custkey") % 97 == 0)
        .withColumn("_erase", F.lit(True))
    )
    txn_commit(
        spark,
        root,
        [
            ("customer_cow", cust_path, cust_del, "c_custkey", "c_custkey", "_erase"),
            ("orders_cow", ord_path, ord_del, "o_orderkey", "o_orderdate", "_erase"),
        ],
        expected_catalog_version=1,
    )

    def audit(df: DataFrame, tbl: str, subj_col: str, amt_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(amt_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_amount"),
            F.sum(
                F.when(F.col(subj_col) % 97 == 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("leaked"),
        ).select(
            F.lit(tbl).alias("tbl"), "n_rows", "total_amount", "leaked"
        )

    return (
        audit(
            read_table_at_catalog(spark, root, "customer_cow", cust_path),
            "customer", "c_custkey", "c_acctbal",
        )
        .unionByName(
            audit(
                read_table_at_catalog(spark, root, "orders_cow", ord_path),
                "orders", "o_custkey", "o_totalprice",
            )
        )
        .orderBy("tbl")
    )


# --------------------------------------------------------------------------
# Persisted column-stats sidecar (operators/stats.py — the Hudi
# metadata-table column_stats / Delta per-file-stats shape). Two read
# paths over a linear-clustered orders table:
#   stats_skipping_range_scan — a date-window scan planned from the
#     sidecar (files whose [min, max] can't intersect are never opened;
#     residual predicate keeps results exact regardless of pruning);
#   stats_metadata_group_counts — count-by-group answered mostly from
#     METADATA: pure files (min == max on the cluster column) contribute
#     their sidecar row counts without being read, only the straddling
#     boundary files are scanned.
# Both oracles are the plain predicate/GROUP BY over the raw table —
# the sidecar must be invisible in results, visible only in cost.
# --------------------------------------------------------------------------


@query(
    "stats_skipping_range_scan",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-05-31'
GROUP BY 1 ORDER BY 1
""",
)
def stats_skipping_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.stats import build_table_stats, read_stats_range

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "stats_range")
    write_clustered(
        cluster_linear(orders, ["o_orderdate", "o_orderkey"], 24), path
    )
    build_table_stats(spark, path, ["o_orderdate"])
    import datetime

    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 5, 31)
    return (
        read_stats_range(spark, path, "o_orderdate", lo, hi)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


@query(
    "stats_metadata_group_counts",
    oracle="""
SELECT o_orderstatus, count(*) AS n_rows
FROM orders GROUP BY 1 ORDER BY 1
""",
)
def stats_metadata_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.stats import build_table_stats, group_count_from_stats

    orders = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    path = scratch(sf_dir, "stats_groupcount")
    write_clustered(
        cluster_linear(orders, ["o_orderstatus", "o_orderkey"], 12), path
    )
    build_table_stats(spark, path, ["o_orderstatus"])
    return group_count_from_stats(spark, path, "o_orderstatus")


# --------------------------------------------------------------------------
# Symlink-format manifest export (operators/tableops.py::
# export_symlink_manifest — Hudi symlink manifests / Delta GENERATE
# symlink_format_manifest): the interop handoff for engines that speak
# only "list of parquet files". The query upserts a keyed table (old
# file versions stay on disk), plants a crash-orphan, exports the
# manifest, and reads the table BACK through the file list alone — the
# external engine's view must equal the upsert fold, proving the
# export is snapshot-consistent and orphan-blind.
# --------------------------------------------------------------------------


@query(
    "symlink_manifest_read",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 7 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, round(o_totalprice, 2) AS total_price, o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def symlink_manifest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.merge import upsert_parquet_indexed
    from ..operators.tableops import (
        export_symlink_manifest,
        read_via_symlink_manifest,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "symlink_tbl")
    write_clustered(cluster_linear(orders, ["o_orderkey"], 8), path)
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
    )
    upsert_parquet_indexed(spark, updates, path, "o_orderkey", "o_orderdate")
    # A crash-orphan the external engine must never see.
    orders.limit(5).write.mode("overwrite").parquet(f"{path}/__orphan_src")
    src = _glob.glob(f"{path}/__orphan_src/*.parquet")[0]
    shutil.copy(src, f"{path}/part-upsert-0rphan00-99999.parquet")
    shutil.rmtree(f"{path}/__orphan_src")
    manifest = export_symlink_manifest(path)
    return (
        read_via_symlink_manifest(spark, manifest)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Schema evolution through the upsert (operators/merge.py::
# align_schemas — the Hudi hoodie.schema.on.read.enable contract the
# reference turns on): the table was written BEFORE o_orderpriority
# existed; a later batch carries it. The upsert widens the table —
# untouched rows read the new column as NULL, updated rows carry the
# batch value, and no rewrite of old files is needed. Previously
# tests-only (VERDICT S3b); the oracle replays the widened fold, so
# evolution is now driver-attested end-to-end.
# --------------------------------------------------------------------------


@query(
    "schema_evolution_upsert",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CAST(NULL AS VARCHAR) AS o_orderpriority, 0 AS is_batch
  FROM orders
),
batch AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2.0,
         o_orderdate + INTERVAL 30 DAY, o_orderpriority, 1
  FROM orders WHERE o_orderkey % 5 = 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM (SELECT * FROM base UNION ALL SELECT * FROM batch)
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate, o_orderpriority
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def schema_evolution_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    batch = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
    )
    out = merge_upsert(
        v1, batch, ["o_orderkey"], "o_orderdate", evolve_schema=True
    )
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
        "o_orderpriority",
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Deletion vectors (round 9; Delta DV / Iceberg position-delete shape):
# two delete generations land as position sidecars — the data files are
# never rewritten (asserted byte-identical in tests) — and the reader
# subtracts the union with one broadcast anti join on (file, position),
# positions from parquet's native _metadata.row_index. The oracle is
# the logical complement over the raw table: a hash match proves the
# position arithmetic deleted EXACTLY the predicate rows across
# generations (gen 2 runs on gen-1 survivors).
# --------------------------------------------------------------------------


@query(
    "deletion_vector_read",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_custkey % 7 = 0)
  AND NOT (o_totalprice > 200000.0)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tableops import (
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch(sf_dir, "dv_orders")
    orders.write.mode("overwrite").parquet(path)
    delete_with_vectors(
        spark,
        path,
        (F.col("o_orderstatus") == "F") & (F.col("o_custkey") % 7 == 0),
    )
    delete_with_vectors(spark, path, F.col("o_totalprice") > 200000.0)
    return (
        read_with_deletion_vectors(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Full-sync MERGE (round 9): the Spark 3.4+/Delta WHEN NOT MATCHED BY
# SOURCE surface — one statement reconciling a dimension against a
# fresh snapshot: matched rows take the snapshot's values, snapshot
# rows missing from the table insert, and table rows MISSING FROM THE
# SNAPSHOT are purged (conditionally: stale open orders delete, other
# stale rows are tombstone-flagged 'X' via the BY SOURCE update arm).
# Same single full-outer join as merge_into — the two new arms are
# pure expression branches on the unmatched-target side, no extra
# shuffle. Oracle reconstructs all five arms relationally.
# --------------------------------------------------------------------------


@query(
    "merge_full_sync_orders",
    oracle="""
WITH t AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
  FROM orders WHERE o_orderkey % 3 = 0
),
s AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.5
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 != 0
  UNION ALL
  SELECT o_orderkey + 1000000000, 'P', o_totalprice
  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 100 = 0
),
merged AS (
  SELECT coalesce(t.k, s.k) AS k,
    CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN t.st
         WHEN t.k IS NOT NULL THEN 'X'
         ELSE s.st END AS st,
    CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN s.p
         WHEN t.k IS NOT NULL THEN t.p ELSE s.p END AS p
  FROM t FULL OUTER JOIN s ON t.k = s.k
  WHERE NOT (t.k IS NOT NULL AND s.k IS NULL AND t.st = 'O')
)
SELECT st AS o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM merged GROUP BY st ORDER BY st
""",
)
def merge_full_sync_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_into

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = orders.filter(F.col("o_orderkey") % 3 == 0)
    source = (
        orders.filter(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5 != 0)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") * 1.5
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 100 == 0)
            ).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                F.lit("P").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    merged = merge_into(
        target,
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": "s.o_totalprice"},
        when_not_matched_insert=True,
        when_not_matched_by_source_update={"o_orderstatus": "'X'"},
        when_not_matched_by_source_delete="t.o_orderstatus = 'O'",
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# DV-aware selective compaction (round 9): rewrite cost tracks DELETED
# DENSITY, not table size. Orders staged range-clustered by key, so the
# key-range delete lands dense in a few files (they get rewritten and
# their DV entries drop) while the scattered modulo delete stays sparse
# everywhere (those files keep bytes + DV entries). The oracle is the
# same logical complement BEFORE vs AFTER compaction — a hash match
# proves the rewrite/sidecar-swap is lossless.
# --------------------------------------------------------------------------


@query(
    "dv_compaction_read",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE NOT (o_orderkey < 6000) AND NOT (o_orderkey % 97 = 0)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def dv_compaction_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.tableops import (
        compact_deletion_vectors,
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch(sf_dir, "dv_compact_orders")
    write_clustered(cluster_linear(orders, ["o_orderkey"], 8), path)
    delete_with_vectors(spark, path, F.col("o_orderkey") < 6000)
    delete_with_vectors(spark, path, F.col("o_orderkey") % 97 == 0)
    compact_deletion_vectors(spark, path, min_deleted_fraction=0.2)
    return (
        read_with_deletion_vectors(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# GDPR subject-access export (round 9): Article 15's read-side twin of
# the erasure op — everything the lakehouse holds about one subject,
# pulled across the table graph (customer → orders → lineitem) with
# key-pushdown point lookups and broadcast semi-joins; the subject's
# key set is planning-scale, so no table is ever widely shuffled.
# Output is an audit manifest (per-table row counts + key ranges), the
# artifact a DSAR pipeline files alongside the extracted records.
# --------------------------------------------------------------------------


@query(
    "gdpr_subject_access_export",
    oracle="""
WITH o AS (SELECT o_orderkey FROM orders WHERE o_custkey = 7),
l AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o))
SELECT * FROM (
  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(c_custkey) AS BIGINT) AS min_key, CAST(max(c_custkey) AS BIGINT) AS max_key
  FROM customer WHERE c_custkey = 7
  UNION ALL
  SELECT 'orders', CAST(count(*) AS BIGINT), CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT) FROM o
  UNION ALL
  SELECT 'lineitem', CAST(count(*) AS BIGINT),
         CAST(min(l_orderkey * 10 + l_linenumber) AS BIGINT),
         CAST(max(l_orderkey * 10 + l_linenumber) AS BIGINT)
  FROM l
) ORDER BY table_name
""",
)
def gdpr_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") == 7)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == 7)
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(orders.select(F.col("o_orderkey").alias("l_orderkey"))),
        "l_orderkey",
        "left_semi",
    )
    c_row = cust.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )
    o_row = orders.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    l_key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    l_row = li.agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min(l_key).alias("min_key"),
        F.max(l_key).alias("max_key"),
    )
    return c_row.unionByName(o_row).unionByName(l_row).orderBy("table_name")
