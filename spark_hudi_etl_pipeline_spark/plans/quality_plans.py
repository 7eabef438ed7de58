"""Data-quality / validation tier: dbt-style constraint checks,
single-pass table profiling, and per-dimension embedding statistics.
At 100 TB these are the pre-flight gates of every pipeline run — each
is a constant-size aggregate result, computed with one scan per table
(the profile folds all per-column stats into a single aggregate job,
never one scan per column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import load_table
from .registry import query

# --------------------------------------------------------------------------
# Constraint validation: primary-key uniqueness, not-null, accepted
# values, referential integrity — each a violation count, unioned into
# one report. The FK probe is a left-anti join on the natural key (AQE
# picks broadcast vs shuffle by the dim's actual size).
# --------------------------------------------------------------------------


@query(
    "validate_constraints",
    oracle="""
SELECT * FROM (
  SELECT 'lineitem_fk_orders' AS check_name,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
  UNION ALL
  SELECT 'orders_custkey_not_null',
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL
  SELECT 'orders_pk_unique',
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL
  SELECT 'orders_status_accepted',
         (SELECT count(*) FROM orders
          WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
)
ORDER BY check_name
""",
)
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return constraint_report(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def constraint_report(o: DataFrame, li: DataFrame) -> DataFrame:
    """DataFrame-level core of ``validate_constraints`` (tests drive it
    with deliberately broken table copies)."""
    fk = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_fk_orders").alias("check_name"), "n_violations")
    )
    nn = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_violations")
    ).select(F.lit("orders_custkey_not_null").alias("check_name"), "n_violations")
    pk = o.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    av = o.agg(
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("n_violations")
    ).select(F.lit("orders_status_accepted").alias("check_name"), "n_violations")

    return fk.unionByName(nn).unionByName(pk).unionByName(av).orderBy("check_name")


# --------------------------------------------------------------------------
# Table profile: per-column null count, exact distinct count, min/max
# (string-rendered) — ALL columns in one aggregate pass over one scan,
# then unpivoted with stack(). Restricted to integer/string columns so
# the string rendering is engine-exact.
# --------------------------------------------------------------------------

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@query(
    "profile_orders",
    oracle="""
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name,
         count(*) - count(o_orderkey) AS n_nulls,
         count(DISTINCT o_orderkey) AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR) AS min_s,
         CAST(max(o_orderkey) AS VARCHAR) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority),
         CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
  FROM orders
)
ORDER BY column_name
""",
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "as (column_name, n_nulls, n_distinct, min_s, max_s)"
        )
    ).orderBy("column_name")


# --------------------------------------------------------------------------
# Embedding per-dimension statistics: mean/std/min/max for each of the
# 64 dimensions — the normalization-fit step before cosine/ANN work.
# One posexplode (map-side) + one 64-group aggregate.
# --------------------------------------------------------------------------


@query(
    "embedding_dim_stats",
    oracle="""
WITH z AS (
  SELECT unnest(list_zip(embedding,
                         generate_series(1, len(embedding)))) AS s
  FROM embeddings
)
SELECT CAST(s[2] AS BIGINT) AS dim,
       round(avg(s[1]), 6) AS mean_q,
       round(stddev_samp(s[1]), 6) AS std_q,
       min(s[1]) AS dim_min,
       max(s[1]) AS dim_max
FROM z
GROUP BY dim
ORDER BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    z = e.select(F.posexplode("embedding").alias("pos", "val"))
    return (
        z.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.round(F.avg("val"), 6).alias("mean_q"),
            F.round(F.stddev_samp("val"), 6).alias("std_q"),
            F.min("val").alias("dim_min"),
            F.max("val").alias("dim_max"),
        )
        .orderBy("dim")
    )


def quarantine_split(df: DataFrame, rules) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: ``rules`` maps rule name → boolean Column a
    VALID row satisfies. Returns (good, quarantined); quarantined rows
    carry ``violations`` — the comma-joined sorted names of every rule
    they break (a row can break several). One map-only pass, no shuffle:
    the standard quarantine pattern in front of a keyed-table write
    (bad rows go to the dead-letter sink instead of poisoning the
    table; the WAP audit gate is the all-or-nothing sibling).

    A rule evaluating NULL (e.g. a comparison against a NULL field)
    counts as a violation — expectations fail closed."""
    if not rules:
        raise ValueError("quarantine_split requires at least one rule")
    flags = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in rules.items()
    ]
    tagged = df.withColumn("__viol", F.array_compact(F.array(*flags)))
    good = tagged.filter(F.size("__viol") == 0).drop("__viol")
    bad = (
        tagged.filter(F.size("__viol") > 0)
        .withColumn("violations", F.array_join(F.array_sort("__viol"), ","))
        .drop("__viol")
    )
    return good, bad


# --------------------------------------------------------------------------
# Quarantine / dead-letter split: a deterministically-dirtied orders
# copy (%7 bad status, %11 negative price, %13 null custkey — %77-class
# keys break two rules at once) routes invalid rows to the quarantine
# with their violation list while clean rows pass through untouched
# (good-side parity in tests/test_quality.py). Rules failing on NULL
# fail closed.
# --------------------------------------------------------------------------


@query(
    "quarantine_split_orders",
    oracle="""
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 11 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders
),
v AS (
  SELECT o_orderkey,
         list_filter([
           CASE WHEN o_custkey IS NULL THEN 'custkey_not_null' END,
           CASE WHEN NOT COALESCE(o_totalprice >= 0, FALSE)
                THEN 'price_positive' END,
           CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                THEN 'status_accepted' END
         ], x -> x IS NOT NULL) AS viol
  FROM dirty
)
SELECT o_orderkey, array_to_string(list_sort(viol), ',') AS violations
FROM v WHERE len(viol) > 0
ORDER BY o_orderkey
""",
)
def quarantine_split_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    dirty = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None)).otherwise(
            F.col("o_custkey")
        ).alias("o_custkey"),
        F.when(F.col("o_orderkey") % 11 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ).alias("o_orderstatus"),
    )
    _, bad = quarantine_split(
        dirty,
        {
            "custkey_not_null": F.col("o_custkey").isNotNull(),
            "price_positive": F.col("o_totalprice") >= 0,
            "status_accepted": F.col("o_orderstatus").isin("F", "O", "P"),
        },
    )
    return bad.select("o_orderkey", "violations").orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Dataset card (per-source corpus report): the one-pass rollup a
# training-data release ships with — volume (docs/tokens), language mix,
# and exact-duplicate rate (distinct md5 fingerprints vs docs) — each a
# mergeable aggregate, so the card costs one shuffle on `source`
# regardless of corpus size. Fingerprint reuses the dedup tier's md5
# normalization (bit-identical in both engines).
# --------------------------------------------------------------------------


@query(
    "dataset_card_report",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
         AS n_tokens,
       count(CASE WHEN lang = 'en' THEN 1 END) AS n_english,
       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
         AS n_unique_fp,
       count(*) - count(DISTINCT
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
         AS n_exact_dups
FROM documents
GROUP BY source
ORDER BY source
""",
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return (
        d.select(
            "source",
            "lang",
            F.size(toks).alias("n_tok"),
            text.fingerprint("text").alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("n_english"),
            F.count_distinct("fp").alias("n_unique_fp"),
            (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_exact_dups"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Profile DRIFT: the observability step after profile_orders — compare
# two snapshots of the same table column-by-column (here: orders before
# vs from 1998, the "yesterday vs today" shape) and quantify the shift:
# null counts, exact distincts, min/max, and the row-normalized distinct
# ratio delta in 1e6 fixed point. Two one-pass profiles (one aggregate
# job each, conditional aggregation — the table is scanned ONCE, not
# once per snapshot) joined on column name.
# --------------------------------------------------------------------------

_DRIFT_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


def _drift_oracle() -> str:
    parts = []
    for c in _DRIFT_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
  count(CASE WHEN NOT new THEN 1 END)
    - count(CASE WHEN NOT new THEN {c} END) AS nulls_a,
  count(CASE WHEN new THEN 1 END)
    - count(CASE WHEN new THEN {c} END) AS nulls_b,
  count(DISTINCT CASE WHEN NOT new THEN {c} END) AS distinct_a,
  count(DISTINCT CASE WHEN new THEN {c} END) AS distinct_b,
  CAST(floor(count(DISTINCT CASE WHEN new THEN {c} END) * 1000000.0
             / count(CASE WHEN new THEN 1 END))
     - floor(count(DISTINCT CASE WHEN NOT new THEN {c} END) * 1000000.0
             / count(CASE WHEN NOT new THEN 1 END)) AS BIGINT)
    AS distinct_ratio_delta_q
FROM (SELECT *, o_orderdate >= DATE '1998-01-01' AS new FROM orders)""")
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY column_name"
    )


@query("profile_drift_orders", oracle=_drift_oracle())
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "new", F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")
    )
    aggs = []
    for c in _DRIFT_COLS:
        a = F.when(~F.col("new"), F.col(c))
        b = F.when(F.col("new"), F.col(c))
        na = F.count(F.when(~F.col("new"), F.lit(1)))
        nb = F.count(F.when(F.col("new"), F.lit(1)))
        aggs += [
            (na - F.count(a)).alias(f"{c}__nulls_a"),
            (nb - F.count(b)).alias(f"{c}__nulls_b"),
            F.count_distinct(a).alias(f"{c}__distinct_a"),
            F.count_distinct(b).alias(f"{c}__distinct_b"),
            (
                F.floor(F.count_distinct(b) * F.lit(1000000.0) / nb)
                - F.floor(F.count_distinct(a) * F.lit(1000000.0) / na)
            )
            .cast("long")
            .alias(f"{c}__drq"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls_a, {c}__nulls_b, {c}__distinct_a, "
        f"{c}__distinct_b, {c}__drq"
        for c in _DRIFT_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_DRIFT_COLS)}, {stack_args}) as (column_name, "
            "nulls_a, nulls_b, distinct_a, distinct_b, "
            "distinct_ratio_delta_q)"
        )
    ).orderBy("column_name")


# --------------------------------------------------------------------------
# k-anonymity release gate (operators/privacy.py) — the governance twin
# of gdpr_erase_subject: no row leaves the lakehouse unless its quasi-
# identifier combination (market segment × fixed-width balance decile)
# is shared by >= k released rows. Failing rows coarsen the balance
# decile to a quintile-of-deciles and re-form classes among themselves;
# still-failing rows publish nothing. Balance bins are pure integer
# arithmetic on half-up-rounded cents — bit-identical in both engines.
# Two window passes = two quasi-key exchanges, no joins, no collect.
# --------------------------------------------------------------------------


@query(
    "k_anon_customer_release",
    oracle="""
WITH base AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor((floor(c_acctbal * 100 + 0.5) + 100000) / 110000)
              AS BIGINT) AS bal_bin
  FROM customer
),
l0 AS (
  SELECT *, count(*) OVER (PARTITION BY c_mktsegment, bal_bin) AS n0
  FROM base
),
l1 AS (
  SELECT *, count(CASE WHEN n0 < 4 THEN 1 END) OVER (
           PARTITION BY c_mktsegment, CAST(floor(bal_bin / 5) AS BIGINT)
         ) AS n1
  FROM l0
)
SELECT c_custkey,
       CASE WHEN n0 >= 4 THEN 0 WHEN n1 >= 4 THEN 1 ELSE -1 END
         AS released_level,
       CASE WHEN n0 >= 4 OR n1 >= 4 THEN c_mktsegment END AS pub_segment,
       CASE WHEN n0 >= 4 THEN bal_bin
            WHEN n1 >= 4 THEN CAST(floor(bal_bin / 5) AS BIGINT)
       END AS pub_bal_bin,
       CASE WHEN n0 >= 4 THEN n0 WHEN n1 >= 4 THEN n1 END AS group_n
FROM l1 ORDER BY c_custkey
""",
)
def k_anon_customer_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymize_two_level

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(
            (F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)) + 100000) / 110000
        )
        .cast("long")
        .alias("bal_bin"),
    )
    out = k_anonymize_two_level(
        cust,
        quasi=["c_mktsegment", "bal_bin"],
        k=4,
        coarsen={"bal_bin": F.floor(F.col("bal_bin") / 5).cast("long")},
    )
    return out.select(
        "c_custkey",
        "released_level",
        F.col("pub_c_mktsegment").alias("pub_segment"),
        "pub_bal_bin",
        "group_n",
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Anti-entropy table checksum (operators/maintenance.py::
# content_checksum): verify a replica/backfill matches its source with
# ONE unsorted scan per side and a constant-size signature — per
# o_orderstatus group so divergence localizes to a partition. Inputs
# are canonicalized BEFORE hashing (exact cents, ISO date string, null
# sentinel) because float→string rendering is engine-specific but md5
# of an agreed string is not; bit_xor + exact decimal sum + count all
# commute, so any shuffle order / partitioning yields the same
# signature.
# --------------------------------------------------------------------------


@query(
    "table_checksum_orders",
    oracle="""
WITH sig AS (
  SELECT o_orderstatus,
         CAST(('0x' || substr(md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR),
             CAST(o_custkey AS VARCHAR),
             o_orderstatus,
             CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
             coalesce(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), '~')
           )), 1, 15)) AS BIGINT) AS row_sig
  FROM orders
)
SELECT o_orderstatus,
       count(*) AS n_rows,
       bit_xor(row_sig) AS xor_sig,
       CAST(CAST(sum(CAST(row_sig AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR)
         AS sum_sig
FROM sig GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import content_checksum

    orders = load_table(spark, sf_dir, "orders")
    canon = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string"),
        F.coalesce(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd"),
            F.lit("~"),
        ),
    ]
    return content_checksum(
        orders, canon, group_by=["o_orderstatus"]
    ).orderBy("o_orderstatus")


# --------------------------------------------------------------------------
# l-diversity gate (operators/privacy.py::l_diversity_gate): the
# homogeneity-attack check on top of k-anonymity — a class of k rows
# sharing ONE sensitive value still discloses it, so every released
# class must hold >= l DISTINCT sensitive values. Quasi = (segment,
# balance quintile-bin), sensitive = nation. One window exchange.
# --------------------------------------------------------------------------


@query(
    "l_diversity_customer_release",
    oracle="""
WITH base AS (
  SELECT c_custkey, c_mktsegment, c_nationkey,
         CAST(floor((floor(c_acctbal * 100 + 0.5) + 100000) / 220000)
              AS BIGINT) AS bal_bin
  FROM customer
),
ann AS (
  SELECT c_custkey, c_mktsegment, bal_bin,
         count(*) OVER (PARTITION BY c_mktsegment, bal_bin) AS class_n,
         count(DISTINCT c_nationkey) OVER (
           PARTITION BY c_mktsegment, bal_bin) AS distinct_sensitive
  FROM base
)
SELECT c_custkey, c_mktsegment, bal_bin,
       CAST(class_n AS BIGINT) AS class_n,
       CAST(distinct_sensitive AS INTEGER) AS distinct_sensitive,
       CASE WHEN distinct_sensitive >= 3 THEN 1 ELSE 0 END AS released
FROM ann ORDER BY c_custkey
""",
)
def l_diversity_customer_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import l_diversity_gate

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(
            (F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)) + 100000) / 220000
        )
        .cast("long")
        .alias("bal_bin"),
    )
    out = l_diversity_gate(
        cust, quasi=["c_mktsegment", "bal_bin"], sensitive="c_nationkey", l=3
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "bal_bin",
        "class_n",
        "distinct_sensitive",
        "released",
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# t-closeness gate (operators/privacy.py::t_closeness_gate): the
# skewness-attack check on top of k-anonymity + l-diversity — a class
# can hold many distinct sensitive values yet leak if its distribution
# differs sharply from the table's. EMD over the ordered balance bins
# vs the global distribution, as a PURE INTEGER rule (no floats in the
# gate), t = 1/5. One data-scale groupBy to |classes|·m rows; all
# windows run over the bin DOMAIN.
# --------------------------------------------------------------------------


@query(
    "t_closeness_customer_release",
    oracle="""
WITH base AS (
  SELECT c_mktsegment,
         CAST(floor((floor(c_acctbal * 100 + 0.5) + 100000) / 110000)
              AS BIGINT) AS bal_bin
  FROM customer
),
g AS (SELECT bal_bin, count(*) AS gn FROM base GROUP BY bal_bin),
bins AS (
  SELECT bal_bin AS bin,
         sum(gn) OVER (ORDER BY bal_bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
         sum(gn) OVER () AS N,
         count(*) OVER () AS m
  FROM g
),
cls AS (
  SELECT c_mktsegment, bal_bin, count(*) AS cn
  FROM base GROUP BY c_mktsegment, bal_bin
),
classes AS (
  SELECT c_mktsegment, count(*) AS class_n FROM base GROUP BY c_mktsegment
),
grid AS (
  SELECT cl.c_mktsegment, cl.class_n, b.bin, b.cumg, b.N, b.m,
         coalesce(cs.cn, 0) AS cn
  FROM classes cl CROSS JOIN bins b
  LEFT JOIN cls cs
    ON cs.c_mktsegment = cl.c_mktsegment AND cs.bal_bin = b.bin
),
diffs AS (
  SELECT c_mktsegment, class_n, N, m,
         abs(N * sum(cn) OVER (PARTITION BY c_mktsegment ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - class_n * cumg) AS d
  FROM grid
),
per_class AS (
  SELECT c_mktsegment, class_n,
         CAST(sum(d) AS BIGINT) AS emd_num,
         max(N) AS N, max(m) AS m
  FROM diffs GROUP BY c_mktsegment, class_n
)
SELECT c_mktsegment, class_n, emd_num,
       CAST((emd_num * 1000000) // (class_n * N * (m - 1)) AS BIGINT)
         AS emd_q,
       CASE WHEN emd_num * 5 <= 1 * class_n * N * (m - 1)
            THEN 1 ELSE 0 END AS released
FROM per_class ORDER BY c_mktsegment
""",
)
def t_closeness_customer_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import t_closeness_gate

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(
            (F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)) + 100000) / 110000
        )
        .cast("long")
        .alias("bal_bin"),
    )
    out = t_closeness_gate(
        cust, quasi=["c_mktsegment"], sensitive_bin="bal_bin", t_num=1, t_den=5
    )
    return out.orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Skew diagnostic (observability for the salting/AQE tier): the report a
# pipeline owner reads BEFORE deciding a join needs salting — per-key
# group sizes summarized as exact disc percentiles + the top-5 hot keys
# + a fixed-point skew ratio (max·n_keys·1000/total; 1000 = perfectly
# uniform). The percentile path is the SCALABLE shape: group sizes are
# first folded to a (size, freq) histogram — O(distinct sizes) rows, a
# relation small enough that the cumulative window over it is free —
# never a global window over all keys (the same two-level trick as
# incremental_percentile_histogram). Hot keys via limit-5
# (TakeOrderedAndProject: per-partition heaps).
# --------------------------------------------------------------------------


@query(
    "skew_diagnostic_events",
    oracle="""
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
hist AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM counts GROUP BY cnt),
cum AS (SELECT cnt, freq, sum(freq) OVER (ORDER BY cnt) AS cum FROM hist),
tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS n_keys,
         CAST(sum(cnt * freq) AS BIGINT) AS total_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM hist
),
qs AS (
  SELECT
    CAST(min(CASE WHEN cum >= (50 * n_keys + 99) // 100 THEN cnt END) AS BIGINT) AS p50,
    CAST(min(CASE WHEN cum >= (90 * n_keys + 99) // 100 THEN cnt END) AS BIGINT) AS p90,
    CAST(min(CASE WHEN cum >= (99 * n_keys + 99) // 100 THEN cnt END) AS BIGINT) AS p99
  FROM cum, tot
),
hot AS (
  SELECT user_id, cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS r
  FROM counts ORDER BY cnt DESC, user_id LIMIT 5
)
SELECT metric, k, v FROM (
  SELECT 'hot_' || CAST(r AS VARCHAR) AS metric, user_id AS k, cnt AS v FROM hot
  UNION ALL SELECT 'n_keys', CAST(NULL AS BIGINT), n_keys FROM tot
  UNION ALL SELECT 'total_rows', CAST(NULL AS BIGINT), total_rows FROM tot
  UNION ALL SELECT 'max_cnt', CAST(NULL AS BIGINT), max_cnt FROM tot
  UNION ALL SELECT 'p50_cnt', CAST(NULL AS BIGINT), p50 FROM qs
  UNION ALL SELECT 'p90_cnt', CAST(NULL AS BIGINT), p90 FROM qs
  UNION ALL SELECT 'p99_cnt', CAST(NULL AS BIGINT), p99 FROM qs
  UNION ALL SELECT 'skew_x1000', CAST(NULL AS BIGINT),
    CAST(max_cnt * n_keys * 1000 // total_rows AS BIGINT) FROM tot
)
ORDER BY metric
""",
)
def skew_diagnostic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key / group-size-distribution report over events.user_id:
    exact disc p50/p90/p99 via the (size, freq) histogram two-level
    fold, top-5 hot keys, and skew_x1000 = max·n_keys·1000/total."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id")
    counts = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # consumed by the histogram fold AND the hot-key top-5 —
        # materialize the one keyed shuffle instead of replaying it
        .localCheckpoint(eager=True)
    )
    hist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("freq"))
    cum = hist.withColumn(
        "cum",
        F.sum("freq").over(
            Window.orderBy("cnt").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    tot = hist.agg(
        F.sum("freq").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("freq")).alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    qs = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.expr(f"({q} * n_keys + 99) div 100"),
                        F.col("cnt"),
                    )
                ).alias(f"p{q}")
                for q in (50, 90, 99)
            ]
        )
    )
    hot = (
        counts.orderBy(F.desc("cnt"), "user_id")
        .limit(5)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "user_id")),
        )
    )
    hot_rows = hot.select(
        F.concat(F.lit("hot_"), F.col("r").cast("string")).alias("metric"),
        F.col("user_id").cast("long").alias("k"),
        F.col("cnt").cast("long").alias("v"),
    )
    scalar_rows = (
        tot.crossJoin(F.broadcast(qs))
        .selectExpr(
            "stack(7,"
            " 'n_keys', CAST(NULL AS BIGINT), n_keys,"
            " 'total_rows', CAST(NULL AS BIGINT), total_rows,"
            " 'max_cnt', CAST(NULL AS BIGINT), max_cnt,"
            " 'p50_cnt', CAST(NULL AS BIGINT), p50,"
            " 'p90_cnt', CAST(NULL AS BIGINT), p90,"
            " 'p99_cnt', CAST(NULL AS BIGINT), p99,"
            " 'skew_x1000', CAST(NULL AS BIGINT),"
            "   CAST(max_cnt * n_keys * 1000 div total_rows AS BIGINT)"
            ") AS (metric, k, v)"
        )
    )
    return hot_rows.unionByName(scalar_rows).orderBy("metric")


# --------------------------------------------------------------------------
# Differentially-private-style noisy count release (round 9): the
# governance tier's aggregate-release companion to k-anonymity /
# l-diversity — per-segment counts published with Laplace(b = 1/ε)
# noise via the inverse CDF. Noise here is SEEDED (md5 of a release
# tag + class key → uniform in (0,1)) so the release is reproducible
# and both engines derive the identical draw — the repo's standard
# determinism contract (real deployments would swap in a CSPRNG seed
# per release; the plan shape is unchanged). ln is correctly rounded
# in both engines (the text_tfidf/bm25 contract) and the noise is
# floor-quantized to 1e-6 AFTER the identical double expression, so
# the released integers hash-match. One aggregate, O(classes) state.
# --------------------------------------------------------------------------


@query(
    "dp_noisy_counts_release",
    oracle="""
WITH counts AS (
  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment
),
seeded AS (
  SELECT segment, n,
    (CAST('0x' || substr(md5('dp-release-1|' || segment), 1, 4) AS BIGINT) + 0.5)
      / 65536.0 AS u
  FROM counts
)
SELECT segment,
  n * 1000000 + CAST(floor(
    (CASE WHEN u < 0.5 THEN ln(2.0 * u) ELSE -ln(2.0 * (1.0 - u)) END)
    * 1000000) AS BIGINT) AS noisy_count_q6,
  CAST(1000 AS BIGINT) AS epsilon_x1000
FROM seeded ORDER BY segment
""",
)
def dp_noisy_counts_release(
    spark: SparkSession, sf_dir: str, *, release_seed: str = "dp-release-1"
) -> DataFrame:
    """Per-mktsegment customer counts released with seeded unit-scale
    Laplace noise (ε = 1), 1e-6 fixed point.

    PRIVACY CAVEAT (ADVICE r9): with the default PUBLIC seed this is a
    DETERMINISM-CONTRACT DEMO of the release mechanism, not a privacy
    guarantee — anyone holding the seed recomputes the noise and inverts
    the exact counts. The documented production form passes a SECRET
    per-release ``release_seed`` (drawn from a CSPRNG, stored with the
    release audit record, never published); the plan shape and the 1e-6
    quantization contract are identical either way. The registered
    oracle pins the default seed so the gate can hash-match."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(release_seed + "|"), F.col("segment"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(65536.0)
    noise = F.when(u < 0.5, F.log(2.0 * u)).otherwise(-F.log(2.0 * (F.lit(1.0) - u)))
    return counts.select(
        "segment",
        (F.col("n") * 1000000 + F.floor(noise * 1000000).cast("long"))
        .cast("long")
        .alias("noisy_count_q6"),
        F.lit(1000).cast("long").alias("epsilon_x1000"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# Per-query cost attribution (r13 widening; reference README.md:148-160
# "Performance/Resource Metrics"): the observed-rows leg of
# pipeline/costlog.py, gated against the oracle. Each profiled query
# executes ONCE through the noop sink with a plan-embedded Observation;
# the registered result is the deterministic slice of the cost row —
# (query_name, rows_out) — which DuckDB recomputes as plain counts over
# the same oracle SQL. The nondeterministic legs (wall, tasks, plan
# counters) are pinned by tests/test_costlog.py instead.
# --------------------------------------------------------------------------


def _cost_attribution_oracle() -> str:
    from .registry import ORACLES

    legs = [
        f"SELECT '{name}' AS query_name,"
        f" (SELECT count(*) FROM ({ORACLES[name]})) AS rows_out"
        for name in _COST_PROFILED
    ]
    return " UNION ALL ".join(legs) + " ORDER BY query_name"


#: Three plan shapes on purpose: a partial-agg pipeline, a broadcast
#: star join, and a window argmax — so the observed-rows plumbing is
#: exercised under aggregation, join, and window execution.
_COST_PROFILED = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "latest_order_per_customer",
]


@query("cost_attribution_rows_observed", oracle=_cost_attribution_oracle())
def cost_attribution_rows_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs each profiled query end-to-end (noop sink) with a
    plan-embedded Observation and returns (query_name, rows_out) from
    the collected metrics — proving the attribution path reports the
    same cardinalities the engines compute. The 3-row local result is
    an S2 collection source; all corpus-scale work happens inside the
    profiled queries themselves."""
    from ..pipeline.costlog import profile_run
    from .registry import QUERIES

    entries = [
        profile_run(spark, QUERIES[name](spark, sf_dir), name)
        for name in _COST_PROFILED
    ]
    return local_frame(
        spark,
        [(e["query_name"], e["rows_out"]) for e in entries],
        "query_name string, rows_out long",
    ).orderBy("query_name")
