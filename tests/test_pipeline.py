"""End-to-end pipeline tests: byte-identical extraction per url, error
quarantine, skew handling, plan shape (SURVEY.md §5.2(2)).
"""

import pytest
from pyspark.sql import functions as F

from lexoid_spark.corpus.gen import gen_pages, golden_rows, pages_df
from lexoid_spark.plans.extract import extract

N_DOCS = 60


@pytest.fixture(scope="module")
def result(spark):
    pages = pages_df(spark, N_DOCS)
    return extract(pages, run_id="test_run")


def test_every_doc_extracted_or_quarantined(spark, result):
    n_out = result["extracted"].count()
    n_err = result["errors"].select("url").distinct().count()
    assert n_out + n_err >= N_DOCS
    assert n_out > 0


def test_byte_identity_vs_kernel_goldens(spark, result):
    """Join extracted vs driver-side kernel output on url: the Spark
    plumbing (Arrow transport, tail split, quarantine split) must not
    change a single byte (north_rule: byte-identical extracted text per
    url)."""
    golden = spark.createDataFrame(golden_rows(N_DOCS))
    joined = result["extracted"].join(golden, "url", "inner")
    n_joined = joined.count()
    assert n_joined >= N_DOCS - 5  # minus quarantined rows, if any
    mismatches = joined.filter(
        ~F.col("raw").eqNullSafe(F.col("golden_raw"))
    ).count()
    assert mismatches == 0


def test_segments_populated(spark, result):
    seg = result["extracted"].select(
        "url", F.size("segments").alias("n_seg")
    )
    assert seg.filter(F.col("n_seg") <= 0).count() == 0


def test_html_headings_segment_count(spark, result):
    """html_headings docs have 2 + i%4 '### Section' headings → dominant
    ### → sections + Introduction."""
    rows = (
        result["extracted"]
        .filter(F.col("url").contains("html_headings"))
        .select("url", F.size("segments").alias("n_seg"))
        .collect()
    )
    assert rows
    for r in rows:
        i = int(r["url"].rsplit("/", 1)[1])
        n_sections = 2 + i % 4
        assert r["n_seg"] == n_sections + 1, r["url"]


def test_pdf_multipage_segments_are_pages(spark, result):
    rows = (
        result["extracted"]
        .filter(F.col("url").contains("pdf_multipage"))
        .select("url", "segments")
        .collect()
    )
    assert rows
    for r in rows:
        i = int(r["url"].rsplit("/", 1)[1])
        expect_pages = 2 + i % 3
        assert len(r["segments"]) == expect_pages
        assert [s["page"] for s in r["segments"]] == list(
            range(1, expect_pages + 1)
        )
        assert f"page1 marker doc{i}" in r["segments"][0]["content"]


def test_boilerplate_stripped(spark, result):
    rows = (
        result["extracted"]
        .filter(F.col("url").contains("html_boilerplate"))
        .select("raw")
        .collect()
    )
    assert rows
    for r in rows:
        assert "window.track" not in r["raw"]
        assert "margin:0" not in r["raw"]
        assert "Main" in r["raw"]


def test_invalid_bytes_tolerated(spark, result):
    rows = (
        result["extracted"]
        .filter(F.col("url").contains("html_invalid_bytes"))
        .select("raw")
        .collect()
    )
    assert rows
    for r in rows:
        assert "before" in r["raw"] and "after" in r["raw"]


def test_giant_skew_tail_processed(spark):
    pages = pages_df(spark, 30, p_giant=0.1)
    out = extract(pages, run_id="skew_run")["extracted"]
    giant = out.filter(F.col("url").contains("html_giant"))
    rows = giant.select("n_chars").collect()
    assert rows
    assert all(r["n_chars"] > 100_000 for r in rows)


def test_kernel_us_in_band(spark):
    """The dispatch kernel carries each document's kernel time (µs)
    in-band next to the ``DOC_SCHEMA`` columns; lineage ``wall_ms`` is
    its per-(partition, bucket) Σ // 1000. Every document, quarantined
    ones included, has one."""
    from lexoid_spark.functions.udfs import DOC_SCHEMA
    from lexoid_spark.operators.lineage import lineage_rows
    from lexoid_spark.operators.progress import with_bucket

    pages = pages_df(spark, N_DOCS)
    docs = extract(pages)["docs"]
    assert docs.columns == DOC_SCHEMA.fieldNames() + ["kernel_us"]
    docs = with_bucket(docs, 4).persist()
    try:
        assert docs.filter(F.col("kernel_us").isNull()).count() == 0
        rows = docs.select(F.spark_partition_id().alias("pid"), "bucket",
                           "kernel_us").collect()
        assert len(rows) == N_DOCS
        assert all(r["kernel_us"] is not None and r["kernel_us"] >= 0
                   for r in rows)
        assert sum(r["kernel_us"] for r in rows) > 0
        want: dict = {}
        for r in rows:
            key = (r["pid"], r["bucket"])
            want[key] = want.get(key, 0) + r["kernel_us"]
        got = {(r["partition_id"], r["bucket"]): r["wall_ms"]
               for r in lineage_rows(docs).collect()}
        assert got == {k: us // 1000 for k, us in want.items()}
    finally:
        docs.unpersist()


def test_column_pruning_in_plan(spark):
    """The scan must read only url+html, not text/lang/warc_ts (free
    Catalyst win we verify, SURVEY.md §4.2)."""
    pages = pages_df(spark, 10)
    pages.write.mode("overwrite").parquet("/tmp/_pages_prune_test")
    on_disk = spark.read.parquet("/tmp/_pages_prune_test")
    plan = extract(on_disk)["extracted"]._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert "text" not in cols and "lang" not in cols, plan


def test_extracted_schema_stable(result):
    assert [f.name for f in result["extracted"].schema.fields] == [
        "url", "title", "raw", "segments", "parser_used", "n_chars",
        "n_tokens",
    ]
