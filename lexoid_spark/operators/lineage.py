"""Per-partition lineage rows (north_rule D7 / SURVEY.md A10).

A native aggregate over the dispatch kernel's ``docs`` frame (url, raw,
error, kernel_us, bucket, …): one metrics row per (physical partition,
resume bucket) — ``(partition_id, bucket, n_docs, n_bytes, n_errors,
wall_ms)``. The job collects these few rows to the
driver and they ride its one progress commit (``operators/progress.py``
``mark_done``), stamped there with ``run_id`` and ``ts``; so a
1000-executor run leaves an auditable per-partition trail, stragglers
are measurable, and a group killed before its commit leaves no lineage
row to double-count on replay. :func:`read_lineage` reads them back.

  * ``n_docs``   rows extracted (null ``error``);
  * ``n_errors`` rows quarantined (non-null ``error``);
  * ``n_bytes``  Σ ``length(raw)`` — the extracted ``n_chars`` total;
  * ``wall_ms``  Σ ``kernel_us`` // 1000 — the dispatch kernel's own
    per-document time, carried in-band, so it measures the work (and
    shows stragglers) rather than a re-read of a cached frame.

JVM-only: ``groupBy(spark_partition_id(), …)`` with count_if/sum,
partially aggregated map-side, so no Python-worker task runs. Built as
SQL text, since the job builds it once per bucket group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.operators.progress import read_ledger

LINEAGE_SCHEMA = T.StructType([
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("n_errors", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
])

_AGGS = (
    "count_if(error IS NULL) AS n_docs",
    "CAST(coalesce(sum(length(raw)), 0) AS BIGINT) AS n_bytes",
    "count_if(error IS NOT NULL) AS n_errors",
    "coalesce(sum(kernel_us), 0) div 1000 AS wall_ms",
)


def lineage_rows(docs: DataFrame) -> DataFrame:
    """Aggregate ``docs`` into one row per (physical partition, resume
    ``bucket``) that holds rows (an empty input yields no row): the
    ``LINEAGE_SCHEMA`` columns with ``bucket`` second, the order
    ``progress.mark_done`` takes its lineage rows in."""
    return (
        docs.withColumn("partition_id", F.expr("spark_partition_id()"))
        .groupBy("partition_id", "bucket")
        .agg(*map(F.expr, _AGGS))
    )


def read_lineage(spark: SparkSession, progress_dir: str) -> DataFrame:
    """The lineage view of the progress ledger: its rows that a
    partition holding documents wrote, i.e. all but the empty buckets'
    zero rows — ``LINEAGE_SCHEMA`` + ``bucket``, ``run_id``, ``ts``."""
    return (read_ledger(spark, progress_dir)
            .filter("partition_id IS NOT NULL")
            .select(*LINEAGE_SCHEMA.fieldNames(), "bucket", "run_id", "ts"))
