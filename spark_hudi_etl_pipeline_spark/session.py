"""SparkSession factory with environment-aware tuning.

Re-expresses the reference session builder (pipeline_architecture.py:24-67)
and its per-environment config matrix (:423-448) idiomatically:

- AQE on (adaptive execution + partition coalescing + skew-join handling)
  so the physical plan re-sizes itself to the actual data volume — the
  property that lets the same code run at sf0.001 locally and at 100 TB
  on a 1000-executor cluster.
- Kryo serializer, snappy parquet/orc codecs (reference :36, :50-51).
- ``spark.sql.files.maxPartitionBytes`` 256 MB / AQE advisory partition
  size 64 MB (reference :47-48) — scan tasks stay memory-friendly.
- Arrow execution enabled for the pandas-UDF extension operators.
- NO ``.enables3Support()`` — that line in the reference (:30) is not a
  public SparkSession.Builder API (SURVEY.md §2.12 note); S3 access is
  plain S3A configs supplied by the deployment, not the engine.

Shuffle-partition counts follow the reference's dev/staging/prod matrix
(:428-446) but scale with cluster size by default: at 100 TB you want
roughly 2-3× total executor cores, and AQE coalescing makes over-
provisioning cheap, so ``prod`` uses a high static count that AQE shrinks.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier

#: Reference env matrix (pipeline_architecture.py:423-448), extended with
#: a ``local`` profile for in-process testing.
ENV_CONFIGS: dict[str, dict[str, str]] = {
    "local": {
        # No spark.default.parallelism: Spark's local default is the core
        # count, so an RDD or a fan_out runs one wave of tasks.
        "spark.sql.shuffle.partitions": "32",
    },
    "dev": {
        "spark.sql.shuffle.partitions": "10",
        "spark.default.parallelism": "10",
    },
    "staging": {
        "spark.sql.shuffle.partitions": "50",
        "spark.default.parallelism": "50",
    },
    "prod": {
        # High static count; AQE coalesces small post-shuffle partitions
        # down, so this is an upper bound, not a fixed width.
        "spark.sql.shuffle.partitions": "2000",
        "spark.default.parallelism": "2000",
    },
}

#: Configs shared by every environment (reference :32-61 minus Hudi/S3
#: exotica; Hudi catalog configs are applied only when the connector jars
#: are actually on the classpath — see :func:`hudi_configs`).
BASE_CONFIGS: dict[str, str] = {
    # Adaptive Query Execution: runtime re-planning, small-partition
    # coalescing, automatic skew-join splitting (reference :32-33, :47).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Scan partition sizing (reference :48).
    "spark.sql.files.maxPartitionBytes": "268435456",
    # Serialization (reference :36).
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Storage codecs (reference :50-51).
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.orc.compression.codec": "snappy",
    # Arrow batches for pandas UDFs (extension operators only).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Case-insensitive resolution, matching the reference (:34).
    "spark.sql.caseSensitive": "false",
    # Timestamps: the fixtures are written parquet-ms; keep session TZ
    # fixed so value comparisons are deterministic across hosts.
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's reader
    # rejects natively; read as raw nanos (long) and convert in the
    # catalog layer (sources.catalog normalizes back to TimestampType).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def hudi_configs() -> dict[str, str]:
    """Hudi catalog/extension configs (reference :38-39, :54-60).

    Returned separately so they are applied only when the Hudi spark
    bundle is on the classpath; the engine's primary upsert path is the
    pure-Spark merge in :mod:`..operators.merge`, with Hudi as config
    passthrough when available.
    """
    return {
        "spark.sql.extensions": "org.apache.spark.sql.hudi.HoodieSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": "org.apache.spark.sql.hudi.catalog.HoodieCatalog",
    }


def get_spark_session(
    app_name: str = "spark-graft-engine",
    env: str | None = None,
    master: str | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``env`` picks the shuffle-parallelism profile (``local``/``dev``/
    ``staging``/``prod``; default from ``$SPARK_GRAFT_ENV`` or ``local``).
    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit supply it.
    """
    env = env or os.environ.get("SPARK_GRAFT_ENV", "local")
    if env not in ENV_CONFIGS:
        raise ValueError(f"unknown env {env!r}; expected one of {sorted(ENV_CONFIGS)}")

    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_URL"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # In local mode the driver JVM IS the executor; Spark's 1g default
        # heap on a large box starves shuffles/broadcasts long before the
        # machine does. Only effective when this builder launches the JVM
        # (getOrCreate on an existing session ignores it, as Spark always
        # does for JVM-level settings). On a cluster, spark-submit owns it.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )

    for key, value in {**BASE_CONFIGS, **ENV_CONFIGS[env]}.items():
        builder = builder.config(key, value)
    for key, value in (extra_configs or {}).items():
        builder = builder.config(key, value)

    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A small frame of Python rows (audit rows, file lists, probe keys)
    as a ``LocalTableScan``: the rows travel to the JVM as one Arrow table,
    so building and collecting the frame runs no Spark job and no Python
    worker. ``spark.createDataFrame(list)`` instead parallelizes the rows
    into ``spark.default.parallelism`` Python-backed partitions (the core
    count in the ``local`` profile, 2,000 in ``prod``), and every
    downstream stage pays one task per partition.

    ``rows`` are tuples or ``Row``s; ``schema`` is a ``StructType`` or a
    DDL string. Each row passes the same type check and conversion as
    the list path, so the Arrow path's laxer spots keep the list path's
    behaviour: ``None`` in a non-nullable field or a wrong Python type
    raises, and a naive ``datetime`` in a ``TimestampType`` field is read
    as process-local time (Arrow alone would read it as UTC)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a split-starved input (fewer input splits than
    ``defaultParallelism``, e.g. a one-file fixture scan) round-robin to
    ``defaultParallelism``, so the CPU-bound stage above it (an Arrow
    UDF, a MinHash or SimHash signature, a payload decode) runs one task
    per core. An input that already has a split per core passes through
    as the same object: no shuffle of every row for nothing.

    Every Python-worker task pays a fixed 0.15–0.4 s before it reads a
    row, so the target is the core count (Spark's local default), never
    more: 32 partitions on 4 cores are 8 waves of that fixed cost.

    Splits are counted without a job. A file scan replays Spark's split
    packing (``FilePartition.maxSplitBytes``) from leaf-file sizes, so a
    scan over many tiny files, which Spark packs into few partitions,
    still counts as starved. Any other source reports its RDD's
    partition count. Call this on the scan side, before any shuffle:
    after one, the count no longer describes the stage's input."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    splits = _scan_splits(spark, files) if files else df.rdd.getNumPartitions()
    return df if splits >= cores else df.repartition(cores)


def _scan_splits(spark: SparkSession, files: list[str]) -> int:
    """Partitions Spark's file scan plans for ``files``: each file is cut
    into chunks of at most maxSplitBytes (maxPartitionBytes, shrunk
    toward total ÷ parallelism, floored at openCostInBytes), and chunks
    are packed together, each charged its size plus openCostInBytes."""
    import math
    from urllib.parse import unquote, urlparse

    sc = spark.sparkContext
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("", "file"):
            sizes.append(os.path.getsize(unquote(parsed.path)))
        else:
            jp = sc._jvm.org.apache.hadoop.fs.Path(f)
            hconf = sc._jsc.hadoopConfiguration()
            sizes.append(jp.getFileSystem(hconf).getFileStatus(jp).getLen())
    padded = sum(sizes) + len(sizes) * open_cost
    max_split = min(
        conf.filesMaxPartitionBytes(),
        max(open_cost, padded // sc.defaultParallelism),
    )
    chunks = sum(math.ceil(s / max_split) for s in sizes)
    return min(chunks, math.ceil(padded / max_split))
