"""Checkpointed progress table + resume anti-join (north_rule D3/J5).

The unit of resumability is a *bucket*: ``pmod(xxhash64(url), n_buckets)``.
A run processes pending buckets in groups and, once a group's output is
written, appends one progress row per bucket of the group in a single
write; on restart, ``pending = all buckets ∖ completed`` via left
anti-join, so a killed job resumes at partition granularity with no
duplicates (idempotent bucket keys — re-running a bucket overwrites its
own output directory).

This replaces the reference's benchmark result-cache skip-on-hit
(``tests/benchmark.py:150-181``) with an exactly-once batch pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def read_progress(spark: SparkSession, progress_dir: str) -> DataFrame:
    if os.path.isdir(progress_dir) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(progress_dir) for f in fs
    ):
        return spark.read.schema(PROGRESS_SCHEMA).parquet(progress_dir)
    return spark.createDataFrame([], PROGRESS_SCHEMA)


def pending_buckets(spark: SparkSession, n_buckets: int,
                    progress_dir: str, run_id: str) -> list[int]:
    """All-buckets ∖ completed-in-THIS-run — the resume anti-join (J5).

    Progress rows are scoped per ``run_id``: resuming means relaunching
    with the same run id; a *new* run id over the same output_dir
    reprocesses every bucket (idempotent — each bucket overwrites its
    own partition) instead of silently inheriting another run's
    completions.
    """
    all_b = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    done = (
        read_progress(spark, progress_dir)
        .filter((F.col("status") == "done") & (F.col("run_id") == run_id))
        .select("bucket")
        .distinct()
    )
    rows = all_b.join(done, "bucket", "left_anti").collect()
    return sorted(r["bucket"] for r in rows)


def mark_done(spark: SparkSession, progress_dir: str, run_id: str,
              counts: dict[int, int]) -> None:
    """Append one progress row per bucket of a finished group
    ``{bucket: n_docs}`` in ONE write: the group's buckets become done
    together or, if the write dies, not at all."""
    rows = [(run_id, b, "done", n) for b, n in sorted(counts.items())]
    spark.createDataFrame(rows, PROGRESS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(progress_dir)
