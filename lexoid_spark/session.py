"""SparkSession factory tuned for the extraction workload.

Arrow batch size is lowered because rows carry multi-MB binary blobs
(SURVEY.md §4.2(4)); AQE handles post-shuffle balance; shuffle
partitions default to core count, not 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "lexoid_spark", cores: str | int | None = None,
              shuffle_partitions: int | None = None,
              arrow_max_records: int = 256,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_max_records))
        # blob-extraction workloads burn ~100× more CPU per input byte
        # than relational scans: shrink input splits so the no-shuffle
        # map path yields far more tasks than cores (the 128 MB default
        # packs small files into a handful of splits and caps
        # parallelism below the core count)
        .config("spark.sql.files.maxPartitionBytes", "6m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.locality.wait", "0")
        .config("spark.ui.enabled", "false")
        # the whole-stage-codegen class cache defaults to 100 entries
        # (static conf): a session that runs the ~170-query driver
        # surface holds far more distinct codegen units than that, so
        # every repeated invocation recompiled its generated classes
        # through Janino instead of hitting the cache. Scale-neutral
        # (driver-side planning cost only); sized to hold the full
        # query surface with headroom.
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_CODEGEN_CACHE_ENTRIES", "4000"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "14g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark, rows, schema):
    """Control-plane DataFrame from a handful of driver rows (tuples in
    ``schema`` field order; ``schema`` a StructType or DDL string).

    The rows go driver → Arrow → a ``LocalTableScan``: no Spark job
    and no Python worker. ``spark.createDataFrame(list)`` (or of a
    ``parallelize``d list) instead pickles the rows through a Python
    job: its tasks pay a UDF unpickle, Arrow set-up and scheduling, and
    a worker's first task ~0.20 CPU-s more in
    ``importlib.invalidate_caches()`` (see ``zip_refresh``). A 2-row
    ``coalesce(1)`` parquet append took 0.82–1.14 s from a list,
    0.23–0.38 s from a one-slice ``parallelize`` and 0.10–0.13 s this
    way (4 CPUs, local mode, before the lazy refresh). Do not inline
    the values as literal structs either: each new value set compiles
    again. Empty ``rows`` give an empty LocalTableScan.

    Keep ``rows`` small: they pass through the driver. The job's
    progress commit, the largest caller, holds O(partitions × group
    buckets) ledger rows, never O(docs)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.table(
        {f.name: list(c) for f, c in zip(schema.fields, cols)},
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
