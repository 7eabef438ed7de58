"""Count-Min sketch (operators/sketch.py): one-sided error,
degenerate-width collapse, weighted cells."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.sketch import (
    cms_build,
    cms_estimate,
)


def _corpus(spark, n=500, mod=37):
    # Deterministic skewed corpus: item i appears with multiplicity
    # tied to i % mod (heavy head, long tail).
    return spark.range(n).select(
        F.concat(F.lit("tok"), (F.col("id") % mod).cast("string")).alias("t")
    )


def _truth(df):
    return {
        r["t"]: r["c"]
        for r in df.groupBy("t").agg(F.count(F.lit(1)).alias("c")).collect()
    }


def test_estimate_dominates_truth_everywhere(spark):
    df = _corpus(spark)
    truth = _truth(df)
    cms = cms_build(df, "t", width=16, depth=3)  # narrow → collisions
    items = df.select("t").distinct()
    est = {
        r["t"]: r["cms_cnt"]
        for r in cms_estimate(cms, items, "t", width=16, depth=3).collect()
    }
    assert set(est) == set(truth)
    for t, c in truth.items():
        assert est[t] >= c  # the one-sided guarantee — never undercounts


def test_exact_on_wide_sketch(spark):
    df = _corpus(spark, n=200, mod=8)  # 8 distinct items
    truth = _truth(df)
    cms = cms_build(df, "t", width=4096, depth=3)
    items = df.select("t").distinct()
    est = {
        r["t"]: r["cms_cnt"]
        for r in cms_estimate(cms, items, "t", width=4096, depth=3).collect()
    }
    assert est == truth  # deterministic fixture: no colliding buckets


def test_width_one_collapses_to_total(spark):
    df = _corpus(spark, n=123)
    cms = cms_build(df, "t", width=1, depth=2)
    est = cms_estimate(
        cms, df.select("t").distinct(), "t", width=1, depth=2
    ).collect()
    assert all(r["cms_cnt"] == 123 for r in est)


def test_weighted_cells(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "t string, w long"
    )
    cms = cms_build(df, "t", width=64, depth=2, weight="w")
    est = {
        r["t"]: r["cms_cnt"]
        for r in cms_estimate(
            cms, df.select("t").distinct(), "t", width=64, depth=2
        ).collect()
    }
    assert est["a"] == 12 and est["b"] == 1


def test_unseen_item_estimates_zero_or_collision(spark):
    df = _corpus(spark, n=100, mod=5)
    cms = cms_build(df, "t", width=4096, depth=3)
    ghost = spark.createDataFrame([("never-seen",)], "t string")
    est = cms_estimate(cms, ghost, "t", width=4096, depth=3).collect()
    assert est[0]["cms_cnt"] == 0  # wide sketch: all 3 cells empty
