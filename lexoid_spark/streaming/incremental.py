"""Incremental extraction via Structured Streaming.

The reference has no streaming (SURVEY.md §2.10); the north rule's
resumability is batch (progress tables, plans/job.py). This module is
the *continuous-ingest* variant the training-data pipeline needs when
the pages table grows over time: ``readStream`` over the landing
directory → the SAME extraction plan → per-microbatch sinks for BOTH
branches.

Sink shape: ``foreachBatch`` writing ``batch=<epoch>/`` directories in
overwrite mode — a replayed microbatch (restart after a mid-batch
kill) overwrites its own directory, so the at-least-once contract of
foreachBatch becomes effectively exactly-once. Crucially the errors
branch is sunk too: documents that fail extraction in continuous-ingest
mode land in ``<errors_dir>/batch=<epoch>/`` exactly as the batch job
persists ``errors/bucket=<b>/`` — they must not silently vanish. The
pre-split ``docs`` frame is persisted per microbatch so the kernels run
once per document, not once per branch.

``Trigger.AvailableNow`` drains the backlog and exits — the
batch-friendly mode for cron-style incremental runs; leave
``available_now=False`` for a long-running tail job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lexoid_spark.corpus.gen import PAGES_SCHEMA_DDL
from lexoid_spark.operators.routing import quarantine
from lexoid_spark.plans.extract import extract


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    errors_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = 64,
    schema: str | None = None,
    input_format: str = "pages",
):
    """Start (and for available_now=True, run to completion) the
    incremental extraction stream. Returns the StreamingQuery.

    ``input_format="warc"``: the landing directory holds parquet of
    raw WARC archive blobs ``(id, data)``; each microbatch explodes
    its blobs to pages rows first (map-only) and malformed blobs join
    the errors sink with stage ``warc_ingest`` — continuous crawl
    ingestion with the same quarantine contract as the batch job."""
    if schema is None:
        if input_format == "warc":
            from lexoid_spark.sources.warc import WARC_BLOBS_SCHEMA_DDL
            schema = WARC_BLOBS_SCHEMA_DDL
        else:
            schema = PAGES_SCHEMA_DDL
    errors_dir = errors_dir or output_dir.rstrip("/") + "_errors"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)

    def sink_batch(batch_df, batch_id: int) -> None:
        # streaming plans cannot shuffle-repartition a file source
        # safely; microbatch size already bounds per-task bytes
        run_id = f"stream-{batch_id}"
        warc_bad = None
        warc_pages_cache = None
        if input_format == "warc":
            from lexoid_spark.sources.warc import warc_blobs_to_pages
            batch_df, warc_bad = warc_blobs_to_pages(batch_df)
            # cache the exploded rows so the blob parse runs once per
            # microbatch, not once per sink branch
            warc_pages_cache = batch_df = batch_df.persist()
        out = extract(batch_df, run_id=run_id, repartition=False)
        docs = out["docs"].persist()
        errors = out["errors"]
        if warc_bad is not None:
            errors = errors.unionByName(
                quarantine(warc_bad, "warc_ingest", run_id))
        try:
            out["extracted"].write.mode("overwrite").parquet(
                os.path.join(output_dir, f"batch={batch_id}")
            )
            errors.write.mode("overwrite").parquet(
                os.path.join(errors_dir, f"batch={batch_id}")
            )
        finally:
            docs.unpersist()
            if warc_pages_cache is not None:
                warc_pages_cache.unpersist()

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
