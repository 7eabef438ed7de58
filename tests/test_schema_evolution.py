"""Schema evolution (operators/merge.py::align_schemas): the reference
enables Hudi schema-on-read (pipeline_architecture.py:54) and README.md:308
claims schema-evolution support — the parquet fallback must widen the
table when a batch adds columns, null-fill when a batch omits them, and
read mixed-schema file sets via mergeSchema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.merge import (
    align_schemas,
    merge_upsert,
    upsert_parquet,
)


def _t(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_batch_adds_column(spark):
    existing = _t(spark, [(1, 10, "a"), (2, 20, "b")], "k int, v int, payload string")
    batch = _t(spark, [(2, 30, "b2", 0.5), (3, 40, "c", 0.9)],
               "k int, v int, payload string, score double")
    out = merge_upsert(existing, batch, ["k"], "v", evolve_schema=True)
    rows = {r["k"]: r for r in out.collect()}
    assert out.columns == ["k", "v", "payload", "score"]
    assert rows[1]["score"] is None          # old row: NULL for new col
    assert rows[2]["score"] == 0.5           # updated row carries it
    assert rows[3]["score"] == 0.9
    assert len(rows) == 3


def test_batch_omits_column(spark):
    existing = _t(spark, [(1, 10, "a")], "k int, v int, payload string")
    batch = _t(spark, [(1, 99)], "k int, v int")
    out = merge_upsert(existing, batch, ["k"], "v", evolve_schema=True)
    r = out.first()
    # Whole-row replace: the winning batch row has no payload -> NULL.
    assert r["v"] == 99 and r["payload"] is None


def test_type_kept_from_table(spark):
    existing = _t(spark, [(1, 10, 5)], "k int, v int, amt bigint")
    batch = _t(spark, [(2, 20, 7)], "k int, v int, amt int")
    out = merge_upsert(existing, batch, ["k"], "v", evolve_schema=True)
    assert dict(out.dtypes)["amt"] == "bigint"


def test_without_flag_strict_contract(spark):
    existing = _t(spark, [(1, 10, "a")], "k int, v int, payload string")
    # Extra batch columns are projected away (table schema is the
    # contract)...
    batch = _t(spark, [(2, 20, "b", 0.5)],
               "k int, v int, payload string, score double")
    out = merge_upsert(existing, batch, ["k"], "v")
    assert out.columns == ["k", "v", "payload"]
    # ...but a batch MISSING a table column is an error, not silent
    # null-fill.
    short = _t(spark, [(2, 20)], "k int, v int")
    with pytest.raises(Exception):
        merge_upsert(existing, short, ["k"], "v").collect()


def test_missing_key_or_precombine_raises(spark):
    """Identity columns are exempt from evolution: a batch missing the
    key or precombine column must fail loudly (Hudi rejects key-less
    records; silent NULL-fill would collapse all rows into one NULL-key
    group)."""
    existing = _t(spark, [(1, 10, "a")], "k int, v int, payload string")
    no_key = _t(spark, [(20, "b")], "v int, payload string")
    with pytest.raises(ValueError, match="key/precombine"):
        merge_upsert(existing, no_key, ["k"], "v", evolve_schema=True)
    no_precombine = _t(spark, [(2, "b")], "k int, payload string")
    with pytest.raises(ValueError, match="key/precombine"):
        merge_upsert(existing, no_precombine, ["k"], "v", evolve_schema=True)
    # First-write path (existing=None) enforces the same contract.
    with pytest.raises(ValueError, match="key/precombine"):
        merge_upsert(None, no_key, ["k"], "v")


def test_align_is_map_only(spark):
    existing = _t(spark, [(1, 10, "a")], "k int, v int, payload string")
    batch = _t(spark, [(2, 20, "b", 0.5)],
               "k int, v int, payload string, score double")
    e2, b2 = align_schemas(existing, batch)
    plan = b2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert e2.columns == b2.columns


def test_upsert_parquet_evolves_and_mergeschema_read(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = _t(spark, [(1, 1, "a"), (2, 1, "b")], "k int, v int, payload string")
    upsert_parquet(spark, b1, path, ["k"], "v")
    b2 = _t(spark, [(2, 2, "b2", 0.7)],
            "k int, v int, payload string, score double")
    upsert_parquet(spark, b2, path, ["k"], "v", evolve_schema=True)
    out = {r["k"]: r for r in spark.read.parquet(path).collect()}
    assert out[1]["score"] is None and out[2]["score"] == 0.7

    # Read-side evolution over heterogeneous file sets (no rewrite):
    # append a file with an extra column, then mergeSchema the union.
    raw = str(tmp_path / "raw")
    b1.write.mode("overwrite").parquet(raw)
    _t(spark, [(9, 1, "z", 1.1)],
       "k int, v int, payload string, extra double").write.mode(
        "append").parquet(raw)
    merged = spark.read.option("mergeSchema", "true").parquet(raw)
    assert set(merged.columns) == {"k", "v", "payload", "extra"}
    assert merged.count() == 3
    assert merged.filter(F.col("extra").isNotNull()).count() == 1


def test_align_schemas_properties(spark):
    """For any split of payload columns between table and batch: the
    aligned schemas are identical, ordered table-first, and table types
    win on overlap."""
    import itertools

    cols = {"a": "int", "b": "string", "c": "double", "d": "bigint"}
    for r in range(len(cols) + 1):
        for batch_extra in itertools.combinations(sorted(cols), r):
            e_cols = {"k": "int", "v": "int"}
            b_cols = {"k": "int", "v": "int"}
            for i, (name, typ) in enumerate(sorted(cols.items())):
                (e_cols if i % 2 == 0 else b_cols)[name] = typ
            for name in batch_extra:
                b_cols[name] = cols[name]
            e = spark.createDataFrame(
                [], ", ".join(f"{n} {t}" for n, t in e_cols.items())
            )
            b = spark.createDataFrame(
                [], ", ".join(f"{n} {t}" for n, t in b_cols.items())
            )
            e2, b2 = align_schemas(e, b)
            assert e2.columns == b2.columns
            assert e2.columns[: len(e_cols)] == list(e_cols)
            assert dict(e2.dtypes) == dict(b2.dtypes)
            for n in e_cols:
                assert dict(e2.dtypes)[n] == e_cols[n]
