"""Clustering table service (operators/clustering.py): linear and
z-order rewrites must turn parquet footer min/max stats into a working
skipping index — asserted directly on the footers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.clustering import (
    cluster_linear,
    cluster_zorder,
    file_column_bounds,
    quantile_codes,
    write_clustered,
    zorder_value_nd,
)
from spark_hudi_etl_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def span_fraction(bounds, col):
    """Mean per-file span of `col` as a fraction of the global domain."""
    los = [b[col][0] for b in bounds]
    his = [b[col][1] for b in bounds]
    domain = max(his) - min(los)
    return sum(h - l for l, h in zip(los, his)) / (len(bounds) * domain)


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def test_zorder_value_interleaves_bits(spark):
    df = spark.range(1).select(
        zorder_value_nd([F.lit(0b1010), F.lit(0b0110)], bits=4).alias("z")
    )
    # x bits at even positions, y bits at odd: x=1010,y=0110 → z=01101100.
    assert df.first()["z"] == 0b01101100


def test_quantile_codes_balanced_under_skew(spark):
    # A heavily skewed column (x^3) must still produce near-uniform code
    # occupancy — the distribution-free property equal-width bins lack.
    df = spark.range(4096).select((F.col("id") ** 3).alias("x"))
    coded = quantile_codes(df, ["x"], bits=4)
    counts = [
        r["n"]
        for r in coded.groupBy("__code_x").agg(F.count("*").alias("n")).collect()
    ]
    assert len(counts) >= 14  # nearly all 16 buckets in use
    assert max(counts) <= 3 * (4096 // 16)


def test_linear_clustering_disjoint_file_ranges(spark, orders, tmp_path):
    path = str(tmp_path / "lin")
    write_clustered(cluster_linear(orders, ["o_totalprice"], 8), path)
    bounds = sorted(
        file_column_bounds(path, ["o_totalprice"]),
        key=lambda b: b["o_totalprice"][0],
    )
    assert len(bounds) >= 6
    for prev, cur in zip(bounds, bounds[1:]):
        assert cur["o_totalprice"][0] >= prev["o_totalprice"][1]
    # A narrow band predicate overlaps at most 2 files.
    lo, hi = 50_000.0, 60_000.0
    touched = [
        b for b in bounds if b["o_totalprice"][1] >= lo and b["o_totalprice"][0] <= hi
    ]
    assert len(touched) <= 2
    assert sum(b["rows"] for b in bounds) == orders.count()


def test_zorder_skips_on_both_columns(spark, orders, tmp_path):
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "l")
    write_clustered(
        cluster_zorder(orders, "o_totalprice", "o_custkey", 16), zpath
    )
    write_clustered(cluster_linear(orders, ["o_totalprice"], 16), lpath)
    zb = file_column_bounds(zpath, ["o_totalprice", "o_custkey"])
    lb = file_column_bounds(lpath, ["o_totalprice", "o_custkey"])
    # Linear on price: price spans tiny, custkey spans ~whole domain.
    assert span_fraction(lb, "o_totalprice") < 0.15
    assert span_fraction(lb, "o_custkey") > 0.8
    # Z-order: BOTH columns' mean spans are well under the domain — a
    # predicate on either column skips most files.
    assert span_fraction(zb, "o_totalprice") < 0.6
    assert span_fraction(zb, "o_custkey") < 0.6
    # Same rows, same content cardinality.
    assert sum(b["rows"] for b in zb) == orders.count()


def test_zorder_preserves_content(spark, orders, tmp_path):
    path = str(tmp_path / "zc")
    write_clustered(
        cluster_zorder(orders, "o_totalprice", "o_custkey", 8), path
    )
    back = spark.read.parquet(path)
    assert back.columns == orders.columns
    assert (
        back.agg(F.sum("o_orderkey"), F.count("*")).first()
        == orders.agg(F.sum("o_orderkey"), F.count("*")).first()
    )


def test_zorder_nd_value_and_guards(spark):
    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_zorder_nd,
        zorder_value_nd,
    )

    # 3-dim round-robin interleave: bit i of dim j at position 3i+j.
    df = spark.range(1).select(
        zorder_value_nd([F.lit(0b11), F.lit(0b01), F.lit(0b10)], bits=2).alias("z")
    )
    # i=0: x=1@0, y=1@1, z=0@2 ; i=1: x=1@3, y=0@4, z=1@5 → 0b101011
    assert df.first()["z"] == 0b101011
    with pytest.raises(ValueError, match="bits"):
        zorder_value_nd([F.lit(0)] * 8, bits=8)
    with pytest.raises(ValueError, match="distinct"):
        cluster_zorder_nd(spark.range(1), ["id", "id"], 2)


def test_zorder_nd_skips_on_all_three_columns(spark, tmp_path):
    """3-D z-order must tighten per-file footer spans on ALL clustered
    columns vs the unclustered layout (each worse than its own 2-D
    tightness — the dimensionality tax — but all well under 1.0)."""
    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_zorder_nd,
    )

    orders3 = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).withColumn("o_days", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")))
    cols = ["o_totalprice", "o_custkey", "o_days"]
    flat = str(tmp_path / "flat")
    zpath = str(tmp_path / "z3")
    orders3.repartition(16).write.parquet(flat)
    write_clustered(cluster_zorder_nd(orders3, cols, 64), zpath)
    flat_b = file_column_bounds(flat, cols)
    z_b = file_column_bounds(zpath, cols)
    for c in cols:
        f_span = span_fraction(flat_b, c)
        z_span = span_fraction(z_b, c)
        assert z_span < 0.55 * f_span, (c, z_span, f_span)
    # Pure layout change: contents identical.
    a = {tuple(r) for r in spark.read.parquet(flat).collect()}
    b = {tuple(r) for r in spark.read.parquet(zpath).collect()}
    assert a == b
