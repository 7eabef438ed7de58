"""Output checks: query results against their DuckDB oracle, compared
the way the repository's oracle gate compares them
(``tools/oracle_check.py``)."""

from __future__ import annotations

import sys


def duckdb_over(paths: dict[str, str], temp_dir: str):
    """An in-memory DuckDB connection with one view per fixture table
    (``{name: parquet path}``), as the oracles expect (``FROM documents``)."""
    import duckdb

    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _normalize_rows():
    # The gate module prepends its own checkout to sys.path when it is
    # imported; keep this checkout's path as it was.
    saved = list(sys.path)
    try:
        from tools.oracle_check import normalize_rows
    finally:
        sys.path[:] = saved
    return normalize_rows


def rows_match(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """Same column names and the same rows in any order, each value in
    the gate's canonical form (floats to 9 significant digits)."""
    normalize_rows = _normalize_rows()
    return sorted(spark_cols) == sorted(duck_cols) and normalize_rows(
        list(spark_cols), spark_rows
    ) == normalize_rows(list(duck_cols), duck_rows)
