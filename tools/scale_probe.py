"""Registry-driven scaling probe: replicate a fixture sf-dir 1×/4×/16×
and time REGISTERED queries at each size and core count — evidence that
the plan shapes scale near-linearly (the 100 TB design claim, measured
instead of asserted).

Usage:

    python tools/scale_probe.py [--queries a,b,...] [--replicate 1,4,16]
                                [--cores 8,32] <sf_dir>

Replicas get disjoint id spaces and perturbed text (a per-replica token
suffix) so fuzzy-dedup collisions stay within a replica — corpus size
grows, true pair count grows linearly, and candidate generation must not
go quadratic for the probe to stay linear. Dimension tables and
``events`` are copied unchanged, so dim joins stay intact and grow in
fan-in, not cardinality.

Each (factor, core count) is timed by ``tools/ab_probe.py`` sessions in
separate JVMs under ``SPARK_GRAFT_CPUS=<cores>`` (the driver's own knob),
core counts in counterbalanced order (c1, c2, c2, c1) so host drift
cancels; a query's time is the minimum over all its passes. The probe
prints one JSON line and replaces or appends exactly one ``SCALE.md``
section, named after the invocation; the rest of the file is left
byte-identical.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from spark_hudi_etl_pipeline_spark.plans import QUERIES  # noqa: E402
from spark_hudi_etl_pipeline_spark.session import get_spark_session  # noqa: E402

SCALE_MD = REPO / "SCALE.md"
PASSES = 2
ID_OFFSET = 100_000_000
# (table, id column, text column): the tables with an id space. Every
# other table in the sf-dir is copied byte-for-byte. l_partkey/l_suppkey
# and o_custkey are deliberately NOT offset, so replica r of lineitem
# still joins replica r of orders and every replica joins the same dims.
REPLICATED = (
    ("lineitem", "l_orderkey", None),
    ("orders", "o_orderkey", None),
    ("documents", "doc_id", "text"),
    ("embeddings", "vec_id", None),
)
DEFAULT_QUERIES = (
    "q1_pricing_summary",  # single-scan aggregate
    "q9_profit_by_nation_year",  # star join
    "dedup_simhash",  # Arrow SimHash scan + chunk self-join
    "text_repetition_filters",  # Arrow-UDF scan
    "knn_bruteforce_cosine",  # broadcast join + per-query top-k
    "tfidf_similar_docs",  # shuffle-heavy inverted index
)


def replicate(spark, base: str, dst: str, factor: int) -> str:
    """Write ``factor`` copies of the sf-dir ``base`` into ``dst`` and
    return ``dst``. Replica ``r`` shifts its table's id column by
    ``r * ID_OFFSET`` and, for ``documents``, suffixes EVERY token with
    ``r<r>`` so replicas share zero shingles with the original —
    cross-replica near-dup pairs would otherwise grow with replicas² and
    mask the operator's own scaling."""
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    replicated = set()
    for table, id_col, text_col in REPLICATED:
        df = spark.read.parquet(f"{base}/{table}.parquet")
        out = df
        for r in range(1, factor):
            d = df.withColumn(id_col, F.col(id_col) + F.lit(r * ID_OFFSET))
            if text_col is not None:
                d = d.withColumn(
                    text_col, F.regexp_replace(F.col(text_col), r"(\S+)", f"$1r{r}")
                )
            out = out.unionByName(d)
        out.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        replicated.add(f"{table}.parquet")
    for entry in sorted(os.listdir(base)):
        src = os.path.join(base, entry)
        if entry in replicated or not entry.endswith(".parquet"):
            continue
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(dst, entry))
        else:
            shutil.copyfile(src, os.path.join(dst, entry))
    return dst


def _session(sf_dir: str, queries: list[str], cores: int) -> dict[str, float]:
    """One ``tools/ab_probe.py`` JVM: per-query min over ``PASSES``."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "ab_probe.py"), str(REPO),
         sf_dir, str(PASSES), *queries],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        proc.check_returncode()
    return json.loads(proc.stdout.strip().splitlines()[-1])["timings"]


def time_queries(
    sf_dir: str, queries: list[str], cores: list[int]
) -> dict[int, dict[str, float]]:
    """Per core count, each query's min wall over two counterbalanced
    sessions (c1, c2, c2, c1)."""
    mins: dict[int, dict[str, float]] = {c: {} for c in cores}
    for c in cores + cores[::-1]:
        t = _session(sf_dir, queries, c)
        for q, v in t.items():
            mins[c][q] = min(v, mins[c].get(q, float("inf")))
        print(f"{sf_dir} cores={c}: {t}", file=sys.stderr, flush=True)
    return mins


def write_section(path: Path, title: str, body: str) -> None:
    """Replace the ``## <title>`` section of ``path`` (up to the next
    ``## `` heading) with ``body``, or append it if absent. Every byte
    outside that section is left as it was, so rewriting the same
    section is idempotent."""
    body = body.rstrip("\n")
    section = f"## {title}\n\n{body}\n"
    text = path.read_text()
    m = re.search(rf"^## {re.escape(title)}\n", text, flags=re.M)
    if m is None:
        if not text.endswith("\n"):
            text += "\n"
        text += "\n" + section
    else:
        nxt = re.compile(r"^## ", re.M).search(text, m.end())
        if nxt is None:
            text = text[: m.start()] + section
        else:
            text = text[: m.start()] + section + "\n" + text[nxt.start() :]
    path.write_text(text)


def _ints(s: str) -> list[int]:
    vals = [int(v) for v in s.split(",") if v.strip()]
    if not vals or min(vals) < 1:
        raise argparse.ArgumentTypeError(f"expected positive integers: {s!r}")
    return vals


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--queries",
        type=lambda s: [q for q in s.split(",") if q],
        default=list(DEFAULT_QUERIES),
        help="comma-separated registered query names",
    )
    p.add_argument(
        "--replicate",
        type=_ints,
        default=[1, 4, 16],
        help="comma-separated replication factors",
    )
    p.add_argument(
        "--cores",
        type=_ints,
        default=None,
        help="SPARK_GRAFT_CPUS values (default: the inherited one, else "
        "every CPU)",
    )
    p.add_argument("sf_dir")
    args = p.parse_args(argv)
    if args.cores is None:
        inherited = os.environ.get("SPARK_GRAFT_CPUS", "")
        args.cores = [int(inherited) if inherited.isdigit() else os.cpu_count()]
    # ab_probe.py silently skips names missing from the registry, so an
    # unknown name must fail here, before any replication or session.
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        p.error(f"unknown query name(s): {', '.join(unknown)}")
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    base = os.path.abspath(args.sf_dir)
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        spark = get_spark_session("scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        dirs = {f: replicate(spark, base, f"{tmp}/x{f}", f) for f in args.replicate}
        spark.stop()  # the timed sessions own the box from here
        timings = {
            f: time_queries(dirs[f], args.queries, args.cores)
            for f in args.replicate
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({
        "sf_dir": base,
        "passes": PASSES,
        "timings": {
            f"{f}x": {str(c): t for c, t in by_cores.items()}
            for f, by_cores in timings.items()
        },
    }))

    lo, hi = args.replicate[0], args.replicate[-1]
    invocation = (
        f"--queries {','.join(args.queries)} "
        f"--replicate {','.join(map(str, args.replicate))} "
        f"--cores {','.join(map(str, args.cores))}"
    )
    rows = [
        f"Generated by `python tools/scale_probe.py {invocation} <sf_dir>`",
        f"on `{os.path.basename(base)}`. Each time is the minimum over two",
        "`tools/ab_probe.py` sessions per core count (core counts run",
        f"counterbalanced) × {PASSES} passes each. "
        f"ratio = t({hi}×)/t({lo}×).",
        "",
        "| query | cores | "
        + " | ".join(f"t({f}×) s" for f in args.replicate)
        + " | ratio |",
        "|---|---|" + "---|" * len(args.replicate) + "---|",
    ]
    for q in args.queries:
        for c in args.cores:
            ts = [timings[f][c][q] for f in args.replicate]
            ratio = ts[-1] / ts[0] if ts[0] > 0 else float("nan")
            rows.append(
                f"| {q} | {c} | "
                + " | ".join(f"{t:.2f}" for t in ts)
                + f" | {ratio:.2f}× |"
            )
    title = f"scale_probe {invocation} {os.path.basename(base)}"
    write_section(SCALE_MD, title, "\n".join(rows))
    print(f"wrote section '{title}' to {SCALE_MD}", file=sys.stderr)


if __name__ == "__main__":
    main()
