"""Streaming dedup-at-ingest: exact content dedup as pages arrive.

The reference has no streaming (SURVEY.md §2.10); batch-side exact
dedup lives in ``functions/dedup.py``. This is the continuous-ingest
variant a training-data pipeline runs on the landing stream.

``dedup_stream`` is exact-once-ever dedup with the SINK as the state
store: each microbatch is deduped batch-locally (groupBy fingerprint,
min-struct keeper — deterministic under replay) and then anti-joined
against the fingerprints already written by PREVIOUS batches. No Spark
state store, so state never sits in executor memory: the "seen" set is
a column-pruned parquet scan of prior output (reads ONE string column;
at 10^12 docs this is the same fingerprint-join shape as the batch
keeper). Exactly-once via per-batch overwrite directories — a replayed
batch overwrites itself, and its own directory is excluded from the
seen-scan so replay is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexoid_spark.corpus.gen import PAGES_SCHEMA_DDL


def _fingerprint(col) -> F.Column:
    """Exact-dedup key: md5 of whitespace-normalized text (same
    normalization as functions/dedup.exact_dedup)."""
    return F.md5(F.regexp_replace(F.trim(col), r"\s+", " "))


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    schema: str = PAGES_SCHEMA_DDL,
):
    """Start the exact-once-ever dedup stream; returns the query."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    cols = [f.strip().split()[0].strip("`") for f in schema.split(",")]

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        fp = batch_df.withColumn("_fp", _fingerprint(F.col(text_col)))
        # batch-local keeper: min(struct(all columns)) per fingerprint —
        # deterministic, map-side combinable (same shape as the batch
        # exact_dedup keeper, so replays pick the same row)
        local = (
            fp.groupBy("_fp")
            .agg(F.min(F.struct(*cols)).alias("_k"))
            .select("_fp", *[F.col(f"_k.{c}").alias(c) for c in cols])
        )
        # history = fingerprints written by OTHER batches (own directory
        # excluded so a replayed batch doesn't anti-join itself away)
        prior = []
        if os.path.isdir(output_dir):
            prior = [
                os.path.join(output_dir, d)
                for d in os.listdir(output_dir)
                if d.startswith("batch=") and d != f"batch={batch_id}"
            ]
        fresh = local
        if prior:
            seen = spark.read.parquet(*prior).select("_fp")
            fresh = local.join(seen, "_fp", "left_anti")
        fresh.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch={batch_id}")
        )

    writer = (
        pages.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="30 seconds").start()


def read_deduped(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "batch=*"))
