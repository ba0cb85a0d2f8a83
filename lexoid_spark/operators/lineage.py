"""Per-partition lineage rows (north_rule D7 / SURVEY.md A10).

A native aggregate over the dispatch kernel's ``docs`` frame (url, raw,
error, kernel_us, …): one metrics row per physical partition —
(partition_id, n_docs, n_bytes, n_errors, wall_ms) + run_id + ts.
Written to the ``lineage`` sink so a 1000-executor run leaves an
auditable per-partition trail and stragglers are measurable.

  * ``n_docs``   rows extracted (null ``error``);
  * ``n_errors`` rows quarantined (non-null ``error``);
  * ``n_bytes``  Σ ``length(raw)`` — the extracted ``n_chars`` total;
  * ``wall_ms``  Σ ``kernel_us`` // 1000 — the dispatch kernel's own
    per-document time, carried in-band, so it measures the work (and
    shows stragglers) rather than a re-read of a cached frame.

JVM-only: ``groupBy(spark_partition_id(), …)`` with count_if/sum,
partially aggregated map-side, so no Python-worker task runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType([
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("n_errors", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
])


def lineage_rows(docs: DataFrame, run_id: str,
                 group_col: str | None = None) -> DataFrame:
    """Aggregate ``docs`` into one lineage row per physical partition
    that holds rows (an empty input yields no row).

    With ``group_col`` (e.g. the resume bucket), one row per
    (partition, group value) instead — the job layer then writes
    lineage partitioned by that column with dynamic overwrite, so a
    killed-and-resumed bucket *replaces* its lineage rows rather than
    appending duplicates (the append-only variant double-counts
    n_docs/n_bytes for every replayed bucket).
    """
    keys = ["partition_id"] + ([group_col] if group_col else [])
    failed = F.col("error").isNotNull()
    return (
        docs.withColumn("partition_id", F.spark_partition_id())
        .groupBy(*keys)
        .agg(
            F.count_if(~failed).alias("n_docs"),
            F.coalesce(F.sum(F.length("raw")), F.lit(0)).cast("long")
            .alias("n_bytes"),
            F.count_if(failed).alias("n_errors"),
            F.expr("coalesce(sum(kernel_us), 0) div 1000").alias("wall_ms"),
        )
        .select(*LINEAGE_SCHEMA.fieldNames(), *keys[1:])
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
    )
