"""Local replica of the driver's correctness gate: run every registered
query on Spark and its oracle on DuckDB at a given sf, compare row count,
column names, and order-insensitive values. Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: The ONLY queries allowed to ship without a DuckDB oracle (r8 verdict ask:
#: the rows-only set is a deliberate, reviewed list, not an accident of a
#: missing ``oracle_sql()`` entry). Anything else lacking an oracle FAILS
#: the gate. Why each is irreducible: HLL++/GK are estimator-internal
#: (error bounds pytest-asserted instead); uuid() is nondeterministic by
#: contract; BPE merge ties are resolution-order-dependent across engines.
ROWS_ONLY_BY_DESIGN = frozenset(
    {
        "approx_distinct_customers",  # HLL++ estimate
        "approx_percentiles_price",  # Greenwald-Khanna estimate
        "rolling_7d_active_hll",  # HLL sketch rollup
        "extract_with_surrogate",  # uuid() surrogate key
        "bpe_train_merges",  # iterative merge-pair ties
    }
)


def normalize_rows(cols, rows):
    """Order-insensitive canonical form: sort columns by name, stringify
    values (floats via repr of round(…, 9) to absorb fp formatting)."""
    import datetime
    import math

    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.9g}"
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ", timespec="microseconds")
        return str(v)

    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    import __spark_entry__ as e
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark_session("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    stale = ROWS_ONLY_BY_DESIGN - set(qs)
    upgraded = ROWS_ONLY_BY_DESIGN & set(oracles)
    if stale:
        print(f"WARN  ROWS_ONLY_BY_DESIGN names not registered: {sorted(stale)}")
    if upgraded:
        print(f"WARN  ROWS_ONLY_BY_DESIGN entries now oracle-bearing (prune the list): {sorted(upgraded)}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        # Canonicalization guard (VERDICT r2 #6): the driver's pandas
        # hasher renders DECIMAL differently across engines and dies on
        # list/map cells, so registered output must scalarize these at the
        # final projection (BIGINT integer scaling / array_join).
        bad = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("decimal", "array", "map", "struct")
        ]
        if bad:
            failures.append(name)
            print(f"FAIL  {name}: non-scalar output columns {bad}")
            continue
        if name not in oracles:
            if name not in ROWS_ONLY_BY_DESIGN:
                failures.append(name)
                print(
                    f"FAIL  {name}: no oracle_sql() entry and not in "
                    f"ROWS_ONLY_BY_DESIGN — add the oracle or review it "
                    f"onto the deliberate list"
                )
                continue
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [rows-only by design]")
            continue
        try:
            drel = con.sql(oracles[name])
            dcols = [c for c in drel.columns]
            drows = drel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        # Cross-engine dtype guard (same class as the DECIMAL rule): a
        # DuckDB HUGEINT (sum over integers) or DECIMAL lands in pandas
        # as float64/object while Spark ships int64 — the driver's hash
        # then mismatches on representation. Oracles must CAST such
        # columns (e.g. `CAST(sum(x) AS BIGINT)`).
        stypes = {f.name: f.dataType.typeName() for f in sdf.schema.fields}
        int_s = {"byte", "short", "integer", "long"}
        int_d = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
        float_d = {"FLOAT", "DOUBLE"}
        bad_pairs = []
        for col, dt in zip(drel.columns, [str(t) for t in drel.types]):
            st = stypes.get(col)
            if dt == "HUGEINT" or dt.startswith("DECIMAL"):
                bad_pairs.append(f"{col}: duck={dt}")
            elif st in int_s and dt in float_d:
                bad_pairs.append(f"{col}: spark={st} duck={dt}")
            elif st in ("double", "float") and dt in int_d:
                bad_pairs.append(f"{col}: spark={st} duck={dt}")
        if bad_pairs:
            failures.append(name)
            print(f"FAIL  {name}: cross-engine dtype drift {bad_pairs}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sn = normalize_rows(scols, [tuple(r) for r in srows])
        dn = normalize_rows(dcols, drows)
        ok_vals = sn == dn
        status = "ok  " if (ok_cols and ok_count and ok_vals) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status}  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)"
            f" cols={ok_cols} count={ok_count} vals={ok_vals}"
        )
        if not ok_cols:
            print(f"      spark cols: {sorted(scols)}\n      duck  cols: {sorted(dcols)}")
        if ok_cols and ok_count and not ok_vals:
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            for a, b in diff:
                print(f"      spark: {a}\n      duck : {b}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
