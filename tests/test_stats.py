"""Column-stats sidecar (operators/stats.py): pruning really skips
files, staleness self-heals through the footer fallback, the
metadata-only group count is exact with boundary files scanned, and
stat-less files are conservatively kept — pruning may only ever change
cost, never results."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.operators.clustering import (
    cluster_linear,
    write_clustered,
)
from spark_hudi_etl_pipeline_spark.operators.merge import _manifest_publish, table_live_files
from spark_hudi_etl_pipeline_spark.operators.stats import (
    _valid_stats,
    build_table_stats,
    group_count_from_stats,
    read_stats_range,
    stats_candidate_files,
)
from spark_hudi_etl_pipeline_spark.sources import load_table
from tests.conftest import SF_SMALL


def _clustered_orders(spark, tmp_path, cols, n_files):
    path = str(tmp_path / "tbl")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    write_clustered(cluster_linear(orders, cols, n_files), path)
    return path, orders


def boundary_files_for_group(spark, path, col):
    """The files ``group_count_from_stats`` scans: those whose ``col``
    min and max in a valid sidecar differ or are unknown."""
    _, live = table_live_files(path)
    stats = _valid_stats(spark, path, live)
    mn, mx = f"min_{col}", f"max_{col}"
    return sorted(
        r["file"]
        for r in stats.filter(F.col(mn).isNull() | (F.col(mn) != F.col(mx)))
        .select("file")
        .collect()
    )


def test_range_scan_prunes_and_matches(spark, tmp_path):
    import datetime

    path, orders = _clustered_orders(
        spark, tmp_path, ["o_orderdate", "o_orderkey"], 24
    )
    n = build_table_stats(spark, path, ["o_orderdate"])
    assert n >= 2
    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 3, 31)
    cand, live = stats_candidate_files(spark, path, "o_orderdate", lo, hi)
    # A one-month window on a multi-year date-clustered layout must
    # skip most files — the sidecar's entire point.
    assert len(cand) < len(live)
    got = read_stats_range(spark, path, "o_orderdate", lo, hi).count()
    want = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    ).count()
    assert got == want > 0


def test_stale_sidecar_self_heals(spark, tmp_path):
    import datetime

    path, orders = _clustered_orders(
        spark, tmp_path, ["o_orderdate", "o_orderkey"], 8
    )
    build_table_stats(spark, path, ["o_orderdate"])
    # A commit lands after the stats build: one extra file inside the
    # queried range that the sidecar knows nothing about.
    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 3, 31)
    extra = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    ).limit(5)
    n_extra = extra.count()
    assert n_extra > 0
    table_schema = pq.read_schema(
        os.path.join(
            path,
            sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )[0],
        )
    )
    pq.write_table(
        pa.Table.from_pandas(extra.toPandas()).cast(table_schema),
        os.path.join(path, "part-late-commit.parquet"),
    )
    version, live = table_live_files(path)
    _manifest_publish(path, live + ["part-late-commit.parquet"], version + 1)
    # The stale sidecar must be ignored (file sets differ) — the footer
    # fallback sees the new file and the result includes its rows.
    got = read_stats_range(spark, path, "o_orderdate", lo, hi).count()
    want = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") <= F.lit(hi))
        ).count()
        + n_extra
    )
    assert got == want


def test_group_count_metadata_only_exact(spark, tmp_path):
    path, orders = _clustered_orders(
        spark, tmp_path, ["o_orderstatus", "o_orderkey"], 12
    )
    _, live = table_live_files(path)
    build_table_stats(spark, path, ["o_orderstatus"])
    got = {
        r["o_orderstatus"]: r["n_rows"]
        for r in group_count_from_stats(spark, path, "o_orderstatus").collect()
    }
    want = {
        r["o_orderstatus"]: r["n"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # On a status-clustered layout only the files straddling two status
    # values are scanned: at most (n_groups - 1), far below the live set.
    boundary = boundary_files_for_group(spark, path, "o_orderstatus")
    assert len(boundary) <= len(want) - 1 < len(live)


def test_group_count_requires_fresh_sidecar(spark, tmp_path):
    import pytest

    path, _ = _clustered_orders(
        spark, tmp_path, ["o_orderstatus", "o_orderkey"], 4
    )
    with pytest.raises(FileNotFoundError):
        group_count_from_stats(spark, path, "o_orderstatus")


def test_statless_file_conservatively_kept(spark, tmp_path):
    """A file written without parquet statistics has no usable bounds:
    both the sidecar and the footer path must KEEP it (null-stat rows
    prune nothing), so its in-range rows always surface."""
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}),
        os.path.join(path, "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": [100, 200], "v": [40, 50]}),
        os.path.join(path, "b.parquet"),
        write_statistics=False,
    )
    build_table_stats(spark, path, ["k"])
    cand, live = stats_candidate_files(spark, path, "k", 100, 300)
    assert "b.parquet" in cand
    rows = read_stats_range(spark, path, "k", 100, 300).collect()
    assert sorted(r["k"] for r in rows) == [100, 200]


def test_distributed_harvest_matches_driver_loop(spark, tmp_path):
    """The mapInPandas footer harvest (cold path past
    _DRIVER_HARVEST_MAX files) must produce a byte-identical sidecar to
    the driver loop — same files, rows, and min/max across string,
    double, and date columns."""
    from spark_hudi_etl_pipeline_spark.operators import stats as stats_mod
    from spark_hudi_etl_pipeline_spark.operators.merge import table_live_files

    cols = ["o_orderstatus", "o_totalprice", "o_orderdate"]
    path, _ = _clustered_orders(
        spark, tmp_path, ["o_orderdate", "o_orderkey"], 80
    )
    _, live = table_live_files(path)
    assert len(live) > stats_mod._DRIVER_HARVEST_MAX  # distributed route

    dist = stats_mod._harvest_stats_df(spark, path, cols, live)
    # Force the driver loop on the same file set for comparison.
    orig = stats_mod._DRIVER_HARVEST_MAX
    stats_mod._DRIVER_HARVEST_MAX = 10**9
    try:
        drv = stats_mod._harvest_stats_df(spark, path, cols, live)
    finally:
        stats_mod._DRIVER_HARVEST_MAX = orig

    assert dist.schema == drv.schema
    d_rows = sorted(map(tuple, dist.collect()))
    v_rows = sorted(map(tuple, drv.collect()))
    assert d_rows == v_rows and len(d_rows) == len(live)
