"""Dump ``explain("formatted")`` (plus the simple plan, which carries
inline Exchange arguments) for named queries to
``$SPARK_GRAFT_PLANS_DIR/<q>_<tag>.txt`` (default ``plans/r14``).

Usage: python tools/explain_dump.py <tag> [sf_dir] <query> ...

The optimization-round deliverable: ``<q>_before.txt`` / ``<q>_after.txt``
pairs that let a reviewer check plan claims (Exchange counts, join
strategies, PushedFilters) without running Spark.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    tag = sys.argv[1]
    args = sys.argv[2:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args

    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR", str(REPO / "plans" / "r14"))
    os.makedirs(out_dir, exist_ok=True)

    def _pagerank_iteration_lazy(spark, sf_dir):
        # The registered query's plan truncates at the final
        # localCheckpoint (a 3-node plan over an ExistingRDD), so the
        # exchange-free iteration claim was not visible in any committed
        # golden (r13 verdict "what's wrong" #1). materialize=False keeps
        # the full lazy recurrence: the cached dst-partitioned edge build
        # plus all 3 iterations' joins and folds appear in one plan.
        from pyspark.sql import functions as F

        from spark_hudi_etl_pipeline_spark.plans.graph_plans import (
            pagerank_ranks,
        )
        from spark_hudi_etl_pipeline_spark.sources import load_table

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        return pagerank_ranks(li, o, materialize=False)

    pseudo = {"pagerank_iteration_lazy": _pagerank_iteration_lazy}
    for name in names:
        df = (pseudo.get(name) or QUERIES[name])(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
            print("\n=== simple (inline Exchange args) ===\n")
            df.explain()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
