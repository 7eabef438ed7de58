"""Maintenance-tier plans (operators/maintenance.py): incremental
aggregate refresh and snapshot CDC diff, both DuckDB-oracled.

The refresh query is the reference's whole program in miniature —
watermark-split batches folded into a keyed materialized state — checked
against the one thing incremental maintenance must equal: the full
recompute over all history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.maintenance import refresh_aggregate_parquet, snapshot_diff
from ..operators.timeline import commit_append, read_as_of
from ..sources import load_table
from .registry import query, scratch

# --------------------------------------------------------------------------
# Incremental aggregate refresh: two watermark-split batches (the
# reference's incremental predicate F3, :223) merged into a per-user
# summary; the oracle is the full-history GROUP BY the incremental path
# must converge to. avg is derived from mergeable (sum, count) state.
# --------------------------------------------------------------------------


@query(
    "incremental_agg_refresh",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18, 2))) * 100 AS BIGINT)
         AS sum_value_cents,
       CAST(floor(CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE)
                  / count(*) * 10000) AS BIGINT) AS avg_q
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value is exactly 2-decimal in the fixtures: the DECIMAL cast is
    # lossless and makes the partial-state sums EXACT integer-scaled
    # arithmetic — bit-identical to the oracle's one-pass GROUP BY
    # regardless of accumulation order (double sums diverge in the last
    # ulp at sf0.1 and can flip a rounded digit). The avg is floor-
    # quantized from the exact sum via one deterministic double op.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    path = scratch(sf_dir, "agg_state")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    for batch in (ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)):
        state = refresh_aggregate_parquet(
            spark,
            batch,
            path,
            keys=["user_id"],
            sums={"value": "sum_value"},
            count_alias="n_events",
        )
    return state.select(
        "user_id",
        "n_events",
        # Exact cents as BIGINT (×100 lossless at scale 2): no raw
        # DECIMAL in registered output (driver canonicalizer).
        (F.col("sum_value").cast("decimal(28,2)") * 100)
        .cast("long")
        .alias("sum_value_cents"),
        F.floor(
            F.col("sum_value").cast("double") / F.col("n_events") * 10000
        )
        .cast("long")
        .alias("avg_q"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Snapshot CDC diff: a second orders snapshot is derived in-query
# (deterministic key arithmetic — deletes at %97, price updates at %13,
# inserts cloned past the key space at %211) and classified against the
# original with one full-outer join. The oracle rebuilds the same
# snapshot and classification in SQL.
# --------------------------------------------------------------------------


@query(
    "snapshot_diff_cdc",
    oracle="""
WITH new_snap AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + CASE WHEN o_orderkey % 13 = 0 THEN 100 ELSE 0 END
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 211 = 0),
diff AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'update' END
           AS change_type
  FROM orders o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey)
SELECT change_type, count(*) AS n_keys, CAST(sum(k) AS BIGINT) AS sum_keys
FROM diff
WHERE change_type IS NOT NULL
GROUP BY change_type
ORDER BY change_type
""",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = load_table(spark, sf_dir, "orders")
    bumped = old.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 13 == 0, 100).otherwise(0),
    )
    inserts = old.filter(F.col("o_orderkey") % 211 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000000
    )
    new = bumped.unionByName(inserts)
    return (
        snapshot_diff(old, new, ["o_orderkey"])
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("o_orderkey").alias("sum_keys"),
        )
        .orderBy("change_type")
    )


def _timeline_commits(orders: DataFrame):
    """Three deterministic commits over orders: base, then price ×2 /
    +30d on keys %5, then price ×4 / +60d on keys %10. ×2/×4 are exact
    in binary so round(…, 2) cannot tie-break differently across
    engines; precombine (o_orderdate) is commit-monotone per key, the
    window fold's exactness domain."""
    c2 = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    c3 = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 4.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return [(1, orders), (2, c2), (3, c3)]


# --------------------------------------------------------------------------
# Time-travel read over a commit timeline (operators/timeline.py — the
# Hudi timeline/MOR architecture the reference gets from
# format("hudi")): three commits land as append-only partitions; the
# query reads state AS OF commit 2, so commit 3's ×4 rows must be
# invisible AND never scanned (partition-pruned — asserted in
# tests/test_timeline.py). Oracle folds the same two commits with the
# canonical window formulation.
# --------------------------------------------------------------------------


@query(
    "timeline_as_of",
    oracle="""
WITH log AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 1 AS commit_ts
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0,
         o_orderdate + INTERVAL 30 DAY, 2
  FROM orders WHERE o_orderkey % 5 = 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, commit_ts DESC) AS rn
  FROM log
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def timeline_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "timeline")
    for ts, batch in _timeline_commits(orders):
        commit_append(spark, batch, path, ts)
    state = read_as_of(spark, path, ["o_orderkey"], "o_orderdate", as_of=2)
    return state.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# MOR query types (operators/timeline.py read_optimized/read_realtime —
# Hudi's _ro/_rt table pair): after compacting commits ≤ 2 with commit 3
# left as an uncompacted delta, the READ-OPTIMIZED view is a pure
# partition-pruned scan of the base (no merge window, zero shuffles —
# commit 3's ×4 rows are invisible by design), while the SNAPSHOT
# (realtime) view folds base + delta tail and must equal the full
# 3-commit history. Two queries over the same timeline, one per Hudi
# query type; staleness and base-only scan shape are asserted in
# tests/test_timeline.py.
# --------------------------------------------------------------------------


def _compacted_timeline(spark: SparkSession, sf_dir: str, tag2: str) -> str:
    from ..operators.timeline import compact_timeline

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, f"timeline_{tag2}")
    for ts, batch in _timeline_commits(orders):
        commit_append(spark, batch, path, ts)
    compact_timeline(spark, path, ["o_orderkey"], "o_orderdate", up_to=2)
    return path


@query(
    "timeline_read_optimized",
    oracle="""
WITH log AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 1 AS commit_ts
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0,
         o_orderdate + INTERVAL 30 DAY, 2
  FROM orders WHERE o_orderkey % 5 = 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, commit_ts DESC) AS rn
  FROM log
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def timeline_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi `_ro` query type: scan the compacted base only — state as of
    the last compaction (commits 1-2); the uncompacted commit-3 delta is
    invisible. The oracle folds exactly those two commits."""
    from ..operators.timeline import read_optimized

    path = _compacted_timeline(spark, sf_dir, "ro")
    return (
        read_optimized(spark, path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


@query(
    "timeline_realtime_snapshot",
    oracle="""
WITH log AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 1 AS commit_ts
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0,
         o_orderdate + INTERVAL 30 DAY, 2
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 4.0,
         o_orderdate + INTERVAL 60 DAY, 3
  FROM orders WHERE o_orderkey % 10 = 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, commit_ts DESC) AS rn
  FROM log
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def timeline_realtime_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi `_rt` query type: compacted base merged with the commit-3
    delta tail — the fold window spans base + tail only, yet the result
    must equal the full 3-commit history (the oracle folds all three),
    proving compaction is read-transparent for snapshot queries."""
    from ..operators.timeline import read_realtime

    path = _compacted_timeline(spark, sf_dir, "rt")
    return (
        read_realtime(spark, path, ["o_orderkey"], "o_orderdate")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Clustering table service (operators/clustering.py — Hudi's
# hoodie.clustering z-order mode): orders is rewritten z-ordered on
# (price, custkey), then a selective 2-D band predicate scans the
# clustered layout. The oracle runs the same predicate on the original
# table — equality proves the rewrite is a pure layout change (file
# skipping comes free via parquet min/max, asserted footer-level in
# tests/test_clustering.py).
# --------------------------------------------------------------------------


@query(
    "clustered_scan_bands",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_totalprice BETWEEN 50000 AND 150000
  AND o_custkey % 10 = 3
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def clustered_scan_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_zorder, write_clustered

    orders = load_table(spark, sf_dir, "orders")
    path = scratch(sf_dir, "zorder")
    write_clustered(
        cluster_zorder(orders, "o_totalprice", "o_custkey", 16), path
    )
    clustered = spark.read.parquet(path)
    return (
        clustered.filter(
            F.col("o_totalprice").between(50000, 150000)
            & (F.col("o_custkey") % 10 == 3)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# N-dimensional z-order clustering (Hudi's clustering service takes N
# sort columns; operators/clustering.py::cluster_zorder_nd): orders is
# rewritten z-ordered on THREE columns, then a selective 3-D band
# predicate scans the clustered layout. The oracle runs the same
# predicate on the original table — equality proves the N-D rewrite is
# a pure layout change (footer-level skipping on all three columns is
# asserted in tests/test_clustering.py).
# --------------------------------------------------------------------------


@query(
    "zorder_nd_scan_bands",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_totalprice BETWEEN 40000 AND 180000
  AND o_custkey % 7 = 2
  AND o_orderdate >= DATE '1994-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def zorder_nd_scan_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_zorder_nd, write_clustered

    orders = load_table(spark, sf_dir, "orders")
    path = scratch(sf_dir, "zorder_nd")
    write_clustered(
        cluster_zorder_nd(
            orders, ["o_totalprice", "o_custkey", "o_orderdate"], 16
        ),
        path,
    )
    clustered = spark.read.parquet(path)
    return (
        clustered.filter(
            F.col("o_totalprice").between(40000, 180000)
            & (F.col("o_custkey") % 7 == 2)
            & (F.col("o_orderdate") >= F.lit("1994-01-01").cast("date"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Incremental JOIN-view maintenance: the delta rule ΔV = ΔA⋈B ∪ A⋈ΔB ∪
# ΔA⋈ΔB folds append-only batches of BOTH join inputs into a
# materialized orders⋈customer view without ever re-joining full
# history. The oracle is the one thing the incremental path must
# converge to: the full join recomputed from scratch.
# --------------------------------------------------------------------------


@query(
    "incremental_join_refresh",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) * 100 AS BIGINT)
         AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import refresh_join_parquet

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    path = scratch(sf_dir, "join_state")
    cut = F.lit("1995-06-01 00:00:00").cast("timestamp")
    o_batches = (o.filter(F.col("o_orderdate") < cut), o.filter(F.col("o_orderdate") >= cut))
    c_batches = (c.filter(F.col("o_custkey") % 2 == 0), c.filter(F.col("o_custkey") % 2 == 1))
    for ob, cb in zip(o_batches, c_batches):
        view = refresh_join_parquet(spark, ob, cb, path, on=["o_custkey"])
    return (
        view.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Compaction layout-invariance: events lands as many tiny per-commit
# files (the streaming-upsert debris pattern), compact_parquet rewrites
# them toward a size target, and the registered output is a per-type
# aggregate over the COMPACTED table — the oracle reads the original
# events, so the gate proves compaction is byte-preserving on the data
# (file-count reduction itself is asserted in tests/test_maintenance.py).
# --------------------------------------------------------------------------


@query(
    "compacted_scan_invariance",
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18, 2))) * 100 AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def compacted_scan_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import compact_parquet

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    path = scratch(sf_dir, "compact")
    ev.repartition(64).write.mode("overwrite").parquet(path)  # small-file debris
    n_before, n_after = compact_parquet(
        spark, path, target_bytes_per_file=8 * 1024 * 1024
    )
    assert n_after < n_before  # compaction must actually reduce file count
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("event_type")
    )
