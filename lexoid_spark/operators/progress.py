"""Checkpointed progress table + resume (north_rule D3/J5).

The unit of resumability is a *bucket*: ``pmod(xxhash64(url), n_buckets)``.
A run processes pending buckets in groups and, once a group's output is
written, appends one progress row per bucket of the group in a single
write; on restart, ``pending = all buckets ∖ completed``, so a killed
job resumes at partition granularity with no duplicates (idempotent
bucket keys — re-running a bucket overwrites its own output directory).

Everything here is JVM-only: the progress rows are a ``LocalTableScan``
(``session.local_rows_df``), the completed set is one parquet-scan
collect and the difference is taken on the driver. No Python-worker
task runs, so none pays the worker's fixed per-task cost.

This replaces the reference's benchmark result-cache skip-on-hit
(``tests/benchmark.py:150-181``) with an exactly-once batch pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.session import local_rows_df

PROGRESS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_docs", T.LongType()),
])


def with_bucket(df: DataFrame, n_buckets: int,
                key_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int"),
    )


def _has_progress(progress_dir: str) -> bool:
    return os.path.isdir(progress_dir) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(progress_dir) for f in fs
    )


def read_progress(spark: SparkSession, progress_dir: str) -> DataFrame:
    if _has_progress(progress_dir):
        return spark.read.schema(PROGRESS_SCHEMA).parquet(progress_dir)
    return local_rows_df(spark, [], PROGRESS_SCHEMA)


def pending_buckets(spark: SparkSession, n_buckets: int,
                    progress_dir: str, run_id: str) -> list[int]:
    """All-buckets ∖ completed-in-THIS-run (J5).

    With no progress file yet, every bucket is pending and no Spark job
    runs. Otherwise one JVM job collects this run's done buckets (a few
    rows per bucket at most) and the difference is taken on the driver.

    Progress rows are scoped per ``run_id``: resuming means relaunching
    with the same run id; a *new* run id over the same output_dir
    reprocesses every bucket (idempotent — each bucket overwrites its
    own partition) instead of silently inheriting another run's
    completions.
    """
    if not _has_progress(progress_dir):
        return list(range(n_buckets))
    done = {
        r["bucket"] for r in read_progress(spark, progress_dir)
        .filter((F.col("status") == "done") & (F.col("run_id") == run_id))
        .select("bucket")
        .collect()
    }
    return [b for b in range(n_buckets) if b not in done]


def mark_done(spark: SparkSession, progress_dir: str, run_id: str,
              counts: dict[int, int]) -> None:
    """Append one progress row per bucket of a finished group
    ``{bucket: n_docs}`` in ONE write of one file: the group's buckets
    become done together or, if the write dies, not at all."""
    rows = [(run_id, b, "done", n) for b, n in sorted(counts.items())]
    local_rows_df(spark, rows, PROGRESS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(progress_dir)
