"""Streaming dedup-at-ingest (streaming/dedup.py): exact-once-ever
dedup with the sink as the state store."""

import datetime as dt

from pyspark.sql import functions as F

from lexoid_spark.streaming.dedup import dedup_stream, read_deduped

SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
          "lang string")


def _pages(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, base + dt.timedelta(hours=h), b"", t, "en")
         for u, h, t in rows],
        SCHEMA,
    )


def test_dedup_stream_across_batches(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # drop 1: two distinct texts, one in-batch duplicate
    _pages(spark, [
        ("u1", 0, "alpha text"), ("u2", 1, "alpha  text"),  # ws-normalized dup
        ("u3", 2, "beta text"),
    ]).write.mode("append").parquet(in_dir)
    dedup_stream(spark, in_dir, out_dir, ckpt, schema=SCHEMA)
    got1 = read_deduped(spark, out_dir)
    assert got1.count() == 2
    # deterministic keeper: min url wins within the batch
    assert {r["url"] for r in got1.collect()} == {"u1", "u3"}

    # drop 2: a cross-batch duplicate (must be dropped against history)
    # plus one genuinely new text
    _pages(spark, [
        ("u4", 3, "alpha text"), ("u5", 4, "gamma text"),
    ]).write.mode("append").parquet(in_dir)
    dedup_stream(spark, in_dir, out_dir, ckpt, schema=SCHEMA)
    got2 = {r["url"]: r for r in read_deduped(spark, out_dir).collect()}
    assert set(got2) == {"u1", "u3", "u5"}

    # drain with no new input → no new rows, no duplicate emission
    dedup_stream(spark, in_dir, out_dir, ckpt, schema=SCHEMA)
    assert read_deduped(spark, out_dir).count() == 3


def test_quality_classifier_is_streaming_safe(spark, tmp_path):
    """linear_quality_classifier is a stateless map (zero shuffle), so
    it must run unchanged inside a Structured Streaming pipeline in
    append mode — the at-ingest quality gate a live crawl applies."""
    from lexoid_spark.functions.curation import linear_quality_classifier

    in_dir = str(tmp_path / "qin")
    out_dir = str(tmp_path / "qout")
    ckpt = str(tmp_path / "qckpt")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zz zz"), (3, "")],
        "doc_id long, text string")
    docs.write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    scored = linear_quality_classifier(stream, "doc_id", "text")
    (scored.writeStream.format("parquet")
     .option("path", out_dir).option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination(120))

    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    want = {r["doc_id"]: r for r in
            linear_quality_classifier(docs, "doc_id", "text").collect()}
    assert len(got) == 3
    for did in (1, 2, 3):
        assert (got[did]["sum_w"], got[did]["keep"]) == (
            want[did]["sum_w"], want[did]["keep"])
