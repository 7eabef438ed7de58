"""Compaction planning: bin invariants on a REAL filesystem listing and
the plan→execute composition with compact_parquet."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.maintenance import (
    compact_parquet,
    compaction_plan,
)


def _listing(spark, path):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    rows = [
        ("p0", f.getPath().getName(), f.getLen())
        for f in fs.listStatus(jpath)
        if f.getPath().getName().endswith(".parquet")
    ]
    return spark.createDataFrame(rows, "partition string, file string, bytes long")


def test_compaction_plan_invariants_and_execute(spark, tmp_path):
    path = os.path.join(str(tmp_path), "frag")
    # 40 tiny files (one row each)
    spark.range(40).repartition(40).write.mode("overwrite").parquet(path)
    files = _listing(spark, path)
    sizes = {r["file"]: r["bytes"] for r in files.collect()}
    n_frag = len(sizes)
    assert n_frag >= 20  # round-robin leaves some partitions empty
    target = max(sizes.values()) * 4
    plan = compaction_plan(
        files,
        partition_col="partition",
        target_bytes=target,
    ).collect()
    assert plan, "tiny files must produce at least one bin"
    planned = []
    for b in plan:
        members = b["files_csv"].split(",")
        assert b["n_files"] == len(members) >= 2
        assert b["bin_bytes"] == sum(sizes[f] for f in members)
        # sequential fill: a bin overflows target by at most one file
        assert b["bin_bytes"] - max(sizes[f] for f in members) < target
        planned += members
    assert len(planned) == len(set(planned))  # no file in two bins

    # Right-sized files are never planned: a single big file alone.
    big = files.withColumn("bytes", F.col("bytes") + target)
    assert (
        compaction_plan(
            big, partition_col="partition", target_bytes=target,
        ).count()
        == 0
    )

    # Execute: rewrite shrinks the file count, data identical.
    before = {r["id"] for r in spark.read.parquet(path).collect()}
    n_before, n_after = compact_parquet(
        spark, path, target_bytes_per_file=target
    )
    assert n_before == n_frag and n_after < n_frag
    assert {r["id"] for r in spark.read.parquet(path).collect()} == before
