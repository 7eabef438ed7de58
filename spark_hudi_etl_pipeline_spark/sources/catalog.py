"""Fixture-table catalog (reference S1/S2, pipeline_architecture.py:131-138,
:177, :217).

The reference reads catalog-managed Hudi tables via ``spark.sql("… FROM
db.tbl")``. In this harness the same tables are parquet files under a
scale-factor directory; ``register_views`` gives every query the identical
``FROM name`` surface. A parquet scan through Catalyst gets predicate
pushdown, column pruning, and (on partitioned layouts) partition pruning
for free — at 100 TB the only change is the path pointing at an object
store and the files being partitioned/clustered, not any query code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: The driver-generated star schema + events/documents/embeddings
#: (TESTDATA.md / FIXTURES.md §B).
FIXTURE_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy; Catalyst prunes columns/predicates."""
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {FIXTURE_TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS,false) — a type different
    Spark builds/configs surface three different ways, and some reject
    outright (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on. This loader must work
    on ANY caller-supplied session (the external harness builds its own),
    so: try the plain read, on failure flip the legacy conf at runtime
    and retry, then normalize whatever dtype ``ts`` came back as to
    TimestampType (µs, truncating — DuckDB's ns→µs cast does the same).

    The conf flip deliberately persists on the caller's session: the scan
    is lazy and re-reads the conf at execution time, so restoring it here
    would break the very DataFrame being returned. Consequence for
    callers: a later parquet read with TIMESTAMP(NANOS) columns in the
    same session surfaces them as raw LongType (route it through this
    loader's normalization if that matters).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception as ex:
        # Only the nanos-type rejection is recoverable via the legacy
        # conf (it makes readers surface raw nanos as LongType). Any
        # other failure (missing file, corrupt footer, permissions) must
        # propagate untouched — flipping the conf and retrying would
        # mutate the session and then raise a second, unrelated error.
        msg = str(ex)
        if not ("NANOS" in msg or "nanos" in msg or "PARQUET_TYPE_ILLEGAL" in msg):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # Raw epoch-nanos. `div` (integer division) keeps full precision
        # (a double detour would corrupt epoch-nanos > 2^53). Going
        # through TIMESTAMP_NTZ pins the wall-clock value; the final
        # NTZ→TIMESTAMP cast re-interprets it in spark.sql.session.timeZone,
        # which session.py pins to UTC. NOTE: a collect() converts via
        # the DRIVER OS zone, not the session zone — values only
        # round-trip because both are UTC here (a non-UTC session on a
        # differently-zoned host would shift wall-clocks, and DST-gap
        # wall-clocks can't round-trip through a non-UTC zone at all).
        df = df.withColumn(
            "ts",
            F.expr(
                "cast(timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00') as timestamp)"
            ),
        )
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture as a temp view so SQL-surface queries can use
    the reference's ``FROM table`` form (reference :217, :357)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
