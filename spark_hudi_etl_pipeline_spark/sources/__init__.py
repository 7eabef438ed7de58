"""Sources & sinks: fixture catalog, parquet readers/writers."""

from .catalog import FIXTURE_TABLES, load_table

__all__ = ["FIXTURE_TABLES", "load_table"]
