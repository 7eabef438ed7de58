"""Extended analytics tier: the TPC-H-shaped query family beyond the
flagship three (SURVEY.md §2.3/§2.4 "joins … enter our engine through
the flagship analytics queries"; README.md:16-21 "Analytics" target).

Each query exercises a distinct planner capability on the star schema —
EXISTS/semi with a non-equi residual, scalar and correlated subqueries,
disjunctive multi-table predicates, HAVING, range/theta joins, windowed
top-1-per-group — all Catalyst built-ins, all DuckDB-oracle-checked.

Scale notes (100 TB):
- every dim side is explicitly ``F.broadcast`` (part/supplier/nation/
  region/customer stay << fact tables at TPC-H ratios);
- fact-fact joins shuffle once on the natural key with AQE skew split;
- the correlated-subquery shapes are expressed as window functions over
  a single shuffle instead of a per-row subquery re-scan;
- the range join broadcasts the bands dim (constant size) so the fact
  side is never shuffled at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import load_table
from .registry import query

# --------------------------------------------------------------------------
# Q6-shaped revenue forecast: conjunctive range predicates, no join —
# the canonical full-pushdown scan (PushedFilters should carry all four).
# --------------------------------------------------------------------------


@query(
    "q6_revenue_forecast",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.08
  AND l_quantity < 24
""",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Q4-shaped late-shipment priority check: EXISTS with a non-equi residual
# (semi join keyed on orderkey, filtered l_shipdate > o_orderdate + 90d).
# --------------------------------------------------------------------------


@query(
    "q4_late_shipment_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q7-shaped cross-nation volume: double nation dimension (aliased twice),
# disjunctive nation-pair predicate, year() extraction.
# --------------------------------------------------------------------------


@query(
    "q7_nation_volume",
    oracle="""
SELECT cust_nation, supp_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM customer, orders, lineitem, supplier, nation n1, nation n2
  WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
    AND l_suppkey = s_suppkey
    AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
GROUP BY cust_nation, supp_nation, l_year
ORDER BY cust_nation, supp_nation, l_year
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                             F.col("n_name").alias("cust_nation"))),
        on="c_nationkey",
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation"))),
        on="s_nationkey",
    )
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .select(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("cust_nation", "supp_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q10-shaped returned-item revenue: 4-way join + top-20 by aggregate.
# --------------------------------------------------------------------------


@query(
    "q10_returned_item_revenue",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12-shaped priority split: conditional aggregation (CASE inside agg)
# over a fact-fact join. (Fixture lineitem has no shipmode column; the
# priority-class pivot preserves the query's shape.)
# --------------------------------------------------------------------------


@query(
    "q12_priority_class_by_status",
    oracle="""
SELECT l_linestatus,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def q12_priority_class_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Q14-shaped promo revenue share: conditional agg ratio over a broadcast
# part join.
# --------------------------------------------------------------------------


@query(
    "q14_promo_revenue_pct",
    oracle="""
SELECT floor(
  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(18, 2))
                        * CAST(1 - l_discount AS DECIMAL(4, 2))
                   ELSE CAST(0 AS DECIMAL(18, 2)) END) AS DOUBLE)
        / CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                   * CAST(1 - l_discount AS DECIMAL(4, 2))) AS DOUBLE)
  * 10000) / 10000.0 AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
""",
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    # Exact decimal sums (2-decimal money columns -> lossless casts):
    # both engines aggregate identical integers, the derived doubles are
    # bit-identical, and floor-quantization cannot tie-break differently
    # the way round() on a last-ulp-divergent double can.
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (F.floor(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double")
                * 10000
            ) / 10000.0).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# Q17-shaped small-quantity revenue: correlated scalar subquery (per-part
# average) re-expressed as a window aggregate — one shuffle instead of a
# per-row re-scan, the 100 TB-safe form.
# --------------------------------------------------------------------------


@query(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    return (
        l.join(F.broadcast(p.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("part_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18-shaped large-volume orders: HAVING over a fact aggregate, joined
# back to its dimensions, top-k.
# --------------------------------------------------------------------------


@query(
    "q18_large_volume_orders",
    oracle="""
SELECT c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS total_price,
       round(sum_qty, 2) AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200) big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_price DESC, o_orderkey
LIMIT 20
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_sum_qty"))
        .filter(F.col("raw_sum_qty") > 200)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("raw_sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q19-shaped disjunctive predicates: OR-of-ANDs across both join sides —
# the planner must keep the join equi-key and evaluate the disjunction as
# a post-join residual.
# --------------------------------------------------------------------------


@query(
    "q19_disjunctive_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_type = 'PROMO' AND p_size BETWEEN 5 AND 25
       AND l_quantity BETWEEN 20 AND 50)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q22-shaped idle high-balance customers: uncorrelated scalar subquery
# (global average → literal broadcast) + anti join on a filtered fact.
# --------------------------------------------------------------------------


@query(
    "q22_idle_high_balance",
    oracle="""
SELECT c_mktsegment, count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q22_idle_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    # Uncorrelated scalar subquery: a one-row aggregate the driver fetches
    # once and folds in as a literal — same plan shape Catalyst produces
    # for a scalar subquery (single tiny job, not a per-row evaluation).
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    return (
        c.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q2-shaped top supplier per nation: windowed top-1-per-group over a
# broadcast dim chain (the reference's ORDER BY … DESC LIMIT 1 pattern,
# pipeline_architecture.py:136-137, generalized across groups).
# --------------------------------------------------------------------------


@query(
    "q2_top_supplier_per_nation",
    oracle="""
SELECT n_name, s_name, round(s_acctbal, 2) AS acctbal
FROM (
  SELECT n_name, s_name, s_acctbal,
         row_number() OVER (PARTITION BY n_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE') t
WHERE rn = 1
ORDER BY n_name
""",
)
def q2_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    w = Window.partitionBy("n_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Range (theta) join: facts against a broadcast interval dimension —
# SURVEY.md §2.3 "theta / range / interval" surface. The bands dim is
# constant-size → BroadcastNestedLoopJoin, fact side never shuffles.
# --------------------------------------------------------------------------

PRICE_BANDS = [("low", 0.0, 150_000.0), ("mid", 150_000.0, 300_000.0),
               ("high", 300_000.0, 1e12)]


@query(
    "range_join_price_bands",
    oracle="""
SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN (VALUES ('low', 0.0, 150000.0), ('mid', 150000.0, 300000.0),
             ('high', 300000.0, 1e12)) bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# Approximate distinct (HyperLogLog++): the sketch-aggregate surface for
# 100 TB cardinality estimation. rows-only — approximation has no exact
# SQL twin; tests/test_plans.py bounds its error against the exact count.
# --------------------------------------------------------------------------


@query("approx_distinct_customers")  # rows-only: HLL estimate is approximate
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Salted aggregation (operators/skew.py): hot-key-safe two-phase groupBy.
# The oracle is the PLAIN aggregation — salting must be correctness-
# invariant, which is exactly what this checks. o_orderpriority has only
# 5 values: the worst-case hot-key shape for a flat groupBy at scale.
# --------------------------------------------------------------------------


@query(
    "salted_agg_order_priority",
    oracle="""
SELECT o_orderpriority, round(sum(o_totalprice), 2) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def salted_agg_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum_count

    o = load_table(spark, sf_dir, "orders")
    return (
        salted_sum_count(
            o,
            keys=["o_orderpriority"],
            sums={"o_totalprice": "raw_total"},
            count_alias="n_orders",
            n_salts=16,
        )
        .select(
            "o_orderpriority",
            F.round("raw_total", 2).alias("total_price"),
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Pivot (groupBy().pivot() — conditional-agg expansion under the hood).
# Explicit value list keeps the plan single-pass (no distinct-values job).
# --------------------------------------------------------------------------


@query(
    "pivot_status_by_segment",
    oracle="""
SELECT c_mktsegment,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 2) AS F,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 2) AS O,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 2) AS P
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pivoted = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("o_totalprice")
    )
    return pivoted.select(
        "c_mktsegment",
        *[F.round(F.coalesce(F.col(s), F.lit(0.0)), 2).alias(s) for s in ("F", "O", "P")],
    ).orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Exact percentiles / median (SQL percentile_cont semantics; Spark's
# exact percentile agg matches DuckDB's quantile_cont interpolation).
# --------------------------------------------------------------------------


@query(
    "percentiles_order_price",
    oracle="""
SELECT o_orderpriority,
       round(median(o_totalprice), 2)                  AS median_price,
       round(quantile_cont(o_totalprice, 0.95), 2)     AS p95_price,
       round(min(o_totalprice), 2)                     AS min_price,
       round(max(o_totalprice), 2)                     AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.median("o_totalprice"), 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("p95_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Statistical aggregates (sample stddev/variance, Pearson correlation).
# --------------------------------------------------------------------------


@query(
    "stats_lineitem_moments",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4)                 AS sd_qty,
       round(var_samp(l_discount), 6)                    AS var_disc,
       round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
       round(avg(l_extendedprice), 4)                    AS avg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def stats_lineitem_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# String-function surface (concat/substring/upper/like/split) — the C8
# "whole pyspark.sql.functions namespace" claim made concrete.
# --------------------------------------------------------------------------


@query(
    "string_functions_surface",
    oracle="""
SELECT c_custkey,
       upper(c_mktsegment) AS seg_upper,
       substring(c_name, 1, 8) AS name_prefix,
       c_name || '/' || c_mktsegment AS name_seg,
       len(string_split(c_name, '#')) AS name_parts,
       (c_mktsegment LIKE 'BUILD%') AS is_building
FROM customer
ORDER BY c_custkey
""",
)
def string_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.size(F.split("c_name", "#")).alias("name_parts"),
        F.col("c_mktsegment").like("BUILD%").alias("is_building"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Unpivot / melt (wide → long): the inverse of pivot, constant-folded
# into a generate — no shuffle until the consumer aggregates.
# --------------------------------------------------------------------------


@query(
    "unpivot_lineitem_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem WHERE l_orderkey < 100
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey < 100
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey < 100
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


# --------------------------------------------------------------------------
# Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL — §2.7
# completed beyond the distinct-set forms).
# --------------------------------------------------------------------------


@query(
    "bag_set_ops_custkeys",
    oracle="""
SELECT 'except' AS op, o_custkey FROM (
  SELECT o_custkey FROM orders
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'intersect', o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
""",
)
def bag_set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    all_keys = o.select("o_custkey")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    big_keys = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        all_keys.exceptAll(f_keys).withColumn("op", F.lit("except"))
        .unionByName(
            big_keys.intersectAll(open_keys).withColumn("op", F.lit("intersect"))
        )
        .select("op", "o_custkey")
    )


# --------------------------------------------------------------------------
# posexplode / lateral flatten with ordinality.
# --------------------------------------------------------------------------


@query(
    "posexplode_doc_tokens",
    oracle="""
SELECT doc_id, u.i - 1 AS pos, u.t AS token
FROM (SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                                   (t, i) -> {'t': t, 'i': i})) AS u
      FROM documents WHERE doc_id < 20)
ORDER BY doc_id, pos
""",
)
def posexplode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ", -1)).alias("pos", "token"),
        )
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------------
# Map-typed JSON access (from_json → MapType; §1.2's MapType surface).
# --------------------------------------------------------------------------


@query(
    "events_props_map",
    oracle="""
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
FROM events
ORDER BY event_id
""",
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Output rule (VERDICT r2 #2): no raw ARRAY/MAP columns in registered
    # query output — the driver's pandas canonicalizer can't hash lists, so
    # the sorted key array is flattened to a CSV string in both engines.
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        m.getItem("k").cast("int").alias("k_val"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Date/time-function surface (C2-C7 family beyond the pipeline's own
# stamps: trunc, add, diff, extract, epoch round-trip).
# --------------------------------------------------------------------------


@query(
    "datetime_functions_surface",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       o_orderdate + INTERVAL 30 DAY AS due_date,
       datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start,
       year(o_orderdate) AS o_year,
       quarter(o_orderdate) AS o_quarter,
       -- Spark dayofweek is 1-based (Sunday=1); DuckDB's is 0-based.
       dayofweek(o_orderdate) + 1 AS o_dow,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
)
def datetime_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
        F.year("o_orderdate").alias("o_year"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.dayofweek("o_orderdate").alias("o_dow"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Collection aggregates (collect_set → sorted array for determinism).
# --------------------------------------------------------------------------


@query(
    "collect_statuses_by_segment",
    oracle="""
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       count(DISTINCT o_orderstatus) AS n_statuses
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def collect_statuses_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flattened to CSV (no raw ARRAY in registered output — see events_props_map).
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping() indicators (beyond rollup/cube):
# two disjoint single-column groupings in one pass over the fact table.
# --------------------------------------------------------------------------


@query(
    "grouping_sets_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_priority,
       round(sum(o_totalprice), 2) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               round(sum(o_totalprice), 2) AS total_price,
               count(*) AS n_orders
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# Q8-shaped market share: ratio of conditional aggregates per year over a
# two-nation-role star join.
# --------------------------------------------------------------------------


@query(
    "q8_market_share",
    oracle="""
SELECT o_year,
       floor(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(18, 2)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) * 10000) / 10000.0 AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18, 2))
           * CAST(1 - l_discount AS DECIMAL(4, 2)) AS volume,
         n2.n_name AS supp_nation
  FROM customer, orders, lineitem, supplier, nation n1, nation n2, region
  WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
    AND l_suppkey = s_suppkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_side = F.broadcast(
        c.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey")).join(
            F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
        ).select("c_custkey")
    )
    supp_side = F.broadcast(
        s.join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey")).select(
            "s_suppkey", "supp_nation"
        )
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_side, F.col("c_custkey") == F.col("o_custkey"))
        .join(supp_side, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (F.floor(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(F.lit(0).cast("decimal(18,2)"))
                ).cast("double")
                / F.sum("volume").cast("double")
                * 10000
            ) / 10000.0).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q15-shaped top-revenue supplier: aggregate → scalar-max subquery
# (expressed as a global window over the tiny aggregate output).
# --------------------------------------------------------------------------


@query(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                  * CAST(1 - l_discount AS DECIMAL(4, 2)))
              AS DECIMAL(28, 4)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       CAST(total_revenue * 10000 AS BIGINT) AS total_revenue_q
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # Exact decimal revenue: the argmax equality compares integer-scaled
    # values identical in both engines (a rounded double sum can differ
    # in the last ulp and flip membership).
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        )
        .cast("decimal(28,4)")
        .alias("total_revenue")
    )
    # Global max over the per-supplier aggregate (|suppliers| rows — the
    # single-partition window runs over a tiny frame, never the fact).
    top = revenue.withColumn(
        "max_rev", F.max("total_revenue").over(W.partitionBy())
    ).filter(F.col("total_revenue") == F.col("max_rev"))
    return (
        s.join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            # Integer-scaled (×10⁴, lossless at scale 4) BIGINT output —
            # no raw DECIMAL in registered output (driver canonicalizer).
            (F.col("total_revenue") * 10000).cast("long").alias(
                "total_revenue_q"
            ),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21-shaped waiting-supplier analysis: EXISTS + NOT EXISTS, both
# correlated self-references on the fact table — the hardest classic
# decorrelation shape (two semi/anti joins against different aliases of
# lineitem with a non-equi residual carried from the outer orders row).
# --------------------------------------------------------------------------


@query(
    "q21_sole_late_supplier",
    oracle="""
SELECT s_name, n_name, count(*) AS numwait
FROM supplier, nation, orders, lineitem l1
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND s_nationkey = n_nationkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    multi_supp = l1.join(
        l2,
        (F.col("l2_orderkey") == F.col("l_orderkey"))
        & (F.col("l2_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    sole_late = multi_supp.join(
        l3,
        (F.col("l3_orderkey") == F.col("l_orderkey"))
        & (F.col("l3_suppkey") != F.col("l_suppkey"))
        & (F.col("l3_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    return (
        sole_late.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Value-based window frame (RANGE BETWEEN interval): trailing-30-day spend
# per customer — the time-decayed running metric README.md:148-150's
# "processing time trends" implies, with a value frame instead of a row
# frame. Spark's rangeBetween needs a numeric ordering key, so the
# timestamp is projected to epoch seconds; the oracle orders by the
# timestamp directly with an INTERVAL frame — same peers, same frame.
# --------------------------------------------------------------------------


@query(
    "window_range_frame_spend",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2)
         AS trailing_30d_spend
FROM orders
ORDER BY o_orderkey
""",
)
def window_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# ntile quartiles: equal-frequency bucketing of customers by balance
# (unique tiebreak on custkey so bucket edges are deterministic in both
# engines), verified as per-(segment, quartile) counts and balance spans.
# --------------------------------------------------------------------------


@query(
    "ntile_balance_quartiles",
    oracle="""
SELECT c_mktsegment, quartile, count(*) AS n_customers,
       round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
FROM (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer)
GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
""",
)
def ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


# --------------------------------------------------------------------------
# first_value / nth_value / last_value over a full-partition frame: the
# richest / second-richest / poorest customer per segment (unique
# tiebreak ⇒ deterministic), collapsed to one row per segment.
# --------------------------------------------------------------------------


@query(
    "window_value_functions",
    oracle="""
SELECT DISTINCT c_mktsegment,
       first_value(c_name) OVER w AS richest,
       nth_value(c_name, 2) OVER w AS second_richest,
       last_value(c_name) OVER w AS poorest
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY c_mktsegment
""",
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select(
            "c_mktsegment",
            F.first("c_name").over(w).alias("richest"),
            F.nth_value("c_name", 2).over(w).alias("second_richest"),
            F.last("c_name").over(w).alias("poorest"),
        )
        .distinct()
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Approximate percentiles (Greenwald-Khanna sketch, accuracy 1/10000) —
# the sketch variant of percentiles_order_price for tables where an
# exact per-group sort-agg is too expensive. Registered rows-only:
# approximation is legal behavior and the sketch is not portable across
# engines; the error bound against the exact aggregate is asserted in
# tests/test_analytics_sketches.py.
# --------------------------------------------------------------------------


@query("approx_percentiles_price")
def approx_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pct = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)), 10000
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(pct[0], 2).alias("p25_approx"),
            F.round(pct[1], 2).alias("p50_approx"),
            F.round(pct[2], 2).alias("p75_approx"),
            F.round(pct[3], 2).alias("p95_approx"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Month-over-month revenue growth: monthly rollup + lag window — the
# standard KPI-trend query shape (one month-keyed agg shuffle, one
# ordered window over the tiny monthly relation). Growth is quantized
# at 1e-4 fixed point after an engine-exact rounded-revenue base.
# --------------------------------------------------------------------------


@query(
    "mom_revenue_growth",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT CAST(month AS DATE) AS month, revenue,
       CAST(floor((revenue / lag(revenue) OVER (ORDER BY month) - 1.0)
                  * 10000) AS BIGINT) AS growth_q
FROM m
ORDER BY month
""",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    return (
        m.select(
            F.col("month").cast("date").alias("month"),
            "revenue",
            F.floor(
                (F.col("revenue") / F.lag("revenue").over(w) - 1.0) * 10000
            )
            .cast("long")
            .alias("growth_q"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Pareto / cumulative-share: suppliers ranked by revenue with running
# cumulative share ("which prefix of suppliers carries 80% of
# revenue"). Ordering and arithmetic run on a 1e-2 fixed-point revenue
# so rank ties and cumulative sums are engine-exact, never fp-order
# dependent.
# --------------------------------------------------------------------------


@query(
    "supplier_pareto_cumshare",
    oracle="""
WITH s AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                  * CAST(1 - l_discount AS DECIMAL(4, 2))) * 10000
              AS BIGINT) AS rev_q
  FROM lineitem GROUP BY l_suppkey
),
t AS (SELECT sum(rev_q) AS total_q FROM s)
SELECT s.l_suppkey, s.rev_q,
       row_number() OVER (ORDER BY s.rev_q DESC, s.l_suppkey) AS rnk,
       round(sum(s.rev_q) OVER (ORDER BY s.rev_q DESC, s.l_suppkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1.0 / t.total_q, 6) AS cum_share
FROM s, t
ORDER BY rnk
""",
)
def supplier_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank + running share WITHOUT an unpartitioned window over all
    suppliers (the two-phase prefix-sum house pattern, value-range
    keyed): suppliers bin by a DATA-INDEPENDENT eighth-octave log scale
    of their revenue (floor(log2(rev)·8) — monotone in revenue, a pure
    function of the row, no min/max pre-pass and no sampled
    boundaries), rank and prefix-sum locally per bin, and add the
    broadcast count/sum of all higher-revenue bins. Exact same output
    as the global window; the supplier-grain aggregate is materialized
    once (it feeds both the local window and the bin offsets — without
    that the fact scan would replay per consumer), and the only
    full-relation shuffle is the one per-bin hash exchange."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # Exact DECIMAL revenue sum (lossless casts: prices/discounts are
    # 2-decimal), then ×10⁴ integer scaling — lossless because the
    # product has scale 4 (×100 would leave fractional digits, which
    # Spark truncates but DuckDB rounds on the BIGINT cast). Immune to
    # fp accumulation order at any SF, unlike floor-quantizing a double
    # sum (r1/r2 ADVICE: that flips on a last-ulp difference as data
    # grows).
    s = li.groupBy("l_suppkey").agg(
        (
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount")).cast("decimal(4,2)")
            )
            * 10000
        )
        .cast("long")
        .alias("rev_q")
    )
    qb = F.floor(F.log2(F.col("rev_q") + 1) * 8).cast("int")
    binned = s.withColumn("qb", qb).localCheckpoint(eager=True)
    wb = Window.partitionBy("qb").orderBy(
        F.desc("rev_q"), F.asc("l_suppkey")
    )
    local = binned.select(
        "qb",
        "l_suppkey",
        "rev_q",
        F.row_number().over(wb).alias("rn_local"),
        F.sum("rev_q")
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_local"),
    )
    # Prefix count/sum over the ~500-row bin relation only (63 octaves
    # × 8 sub-bins covers the whole BIGINT range), broadcast back; the
    # grand total rides along for the share denominator.
    bin_stats = binned.groupBy("qb").agg(
        F.count(F.lit(1)).alias("bn"), F.sum("rev_q").alias("bs")
    )
    wo = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bin_stats.select(
        "qb",
        F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("off_n"),
        F.coalesce(F.sum("bs").over(wo), F.lit(0)).alias("off_s"),
    )
    t = bin_stats.agg(F.sum("bs").alias("total_q"))
    return (
        local.join(F.broadcast(offsets), "qb")
        .crossJoin(F.broadcast(t))
        .select(
            "l_suppkey",
            "rev_q",
            (F.col("off_n") + F.col("rn_local")).alias("rnk"),
            F.round(
                (F.col("off_s") + F.col("cum_local"))
                * F.lit(1.0)
                / F.col("total_q"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Exact decimal aggregation: money arithmetic on DECIMAL(18,2) — sums
# are exact (integer-scaled) in both engines, so the oracle match is
# bit-for-bit with NO rounding/quantization step anywhere. The type-
# surface complement to the double-typed fixtures (SURVEY.md §1.2 notes
# the reference uses no decimal; a lakehouse engine still must).
# --------------------------------------------------------------------------


@query(
    "decimal_exact_totals",
    oracle="""
SELECT o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) * 100 AS BIGINT)
         AS total_cents,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def decimal_exact_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The sum itself is exact DECIMAL in both engines; the OUTPUT is the
    # integer-scaled cents total (BIGINT) because the driver canonicalizer
    # hashes Spark's decimal.Decimal and DuckDB's float64 rendering
    # differently (VERDICT r2 #2: no raw DECIMAL in registered output).
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Skew-salted JOIN invariance (the join twin of salted_agg): orders ⋈
# customer through operators/skew.salted_join — the big side salted over
# 16 reducers, the dim replicated — aggregated per segment. The oracle
# is the plain join: salting must never change results, only spread hot
# keys.
# --------------------------------------------------------------------------


@query(
    "salted_join_segment_volume",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) * 100 AS BIGINT)
         AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def salted_join_segment_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, on=["custkey"], n_salts=16)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE — new engine surface in Spark 4): an
# ancestor walk over the implicit binary-tree hierarchy k → k div 2 on
# order keys, the classic BOM/org-chart recursion bounded by the key
# domain (≤10 halvings from 1024). The recursion is genuinely iterative
# (depth varies per node); both engines run the identical UNION ALL
# fixpoint. Complements dedup_resolve_canonical's iterative-DataFrame
# transitive closure with the declarative-SQL form.
# --------------------------------------------------------------------------


@query(
    "recursive_ancestor_walk",
    oracle="""
WITH RECURSIVE anc(node, anc_node, depth) AS (
  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey < 1024
  UNION ALL
  SELECT a.node, a.anc_node // 2, a.depth + 1
  FROM anc a WHERE a.anc_node > 1
)
SELECT node, max(depth) AS root_depth,
       CAST(sum(anc_node) AS BIGINT) AS path_sum
FROM anc GROUP BY node ORDER BY node
""",
)
def recursive_ancestor_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_rcte")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, anc_node, depth) AS (
          SELECT o_orderkey, o_orderkey, 0 FROM __orders_rcte
          WHERE o_orderkey < 1024
          UNION ALL
          SELECT a.node, a.anc_node DIV 2, a.depth + 1
          FROM anc a WHERE a.anc_node > 1
        )
        SELECT node, max(depth) AS root_depth, sum(anc_node) AS path_sum
        FROM anc GROUP BY node ORDER BY node
        """
    )
