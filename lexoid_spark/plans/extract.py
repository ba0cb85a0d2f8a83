"""The flagship extraction pipeline: pages → extracted markdown.

Spark rebuild of the reference lifecycle (SURVEY.md §3 entry point 1):

    pages(url, warc_ts, html, text, lang)
      → column-pruned scan (url, html [, n_bytes])
      → optional repartition-by-size (byte-balanced tasks; giant-blob
        tail spread; cheap when the table carries an n_bytes column —
        the sampling pass then reads a few KB/row-group, not payloads)
      → native magic-byte doctype sniff (JVM, no Python)
      → ONE mapInPandas dispatch pass: html_to_md / pdf layout parse /
        csv pipe-table / txt decode + segmentation, per Arrow batch
      → error-quarantine split
      → extracted(url, title, raw, segments, parser_used, n_chars)

Default path has ZERO shuffles beyond the optional size repartition:
document-level parallelism is ample at 10^12 rows, so per-page fan-out
(the reference's process-pool chunking, api.py:339-359) is only needed
for pathological single documents — enable ``explode_pdf_pages=True``
to route PDFs through a per-page mapInPandas explode + salted
partial/final merge (tested byte-identical to the in-kernel assembly).

All extraction Python runs inside Arrow batches; orchestration is
native DataFrame ops. tests/test_pipeline.py pins plan shape (scan
reads only url+html) and byte identity vs driver-side kernel output.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lexoid_spark.functions.columns import doc_title
from lexoid_spark.functions.udfs import (
    DOC_SCHEMA,
    PDF_PAGES_SCHEMA,
    TIMED_DOC_SCHEMA,
    make_extract_doc_map,
    pdf_pages_map,
)
from lexoid_spark.operators.partitioning import (
    repartition_by_size,
    salted_group_merge,
    split_giant_tail,
)
from lexoid_spark.operators.routing import (
    quarantine,
    with_doctype,
    with_pdf_flags,
)


def extract(pages: DataFrame, run_id: str = "run0",
            num_partitions: Optional[int] = None,
            repartition: bool = True,
            skew_mode: str = "tail",
            giant_threshold_bytes: int = 1 << 20,
            explode_pdf_pages: bool = False,
            salt_buckets: int = 8,
            return_docs: bool = False,
            pdf_framework: str = "pdfplumber",
            html_main_content: bool = False) -> Dict[str, DataFrame]:
    """Build the extraction plan. Returns {"extracted", "errors"}.

    ``return_docs=True`` adds the pre-split ``docs`` frame to the dict:
    callers that sink BOTH branches — the resumable job
    (``plans/job.py``, once per bucket group) and the streaming sink —
    persist it so the kernels run once per document, not once per
    branch (Spark's cache manager matches the shared analyzed plan).
    Its columns are ``TIMED_DOC_SCHEMA``: ``DOC_SCHEMA`` plus each
    document's in-band ``kernel_us`` (null for per-page exploded PDFs).

    ``pdf_framework``: "pdfplumber" (full layout reconstruction,
    default) or "pdfminer" (cheap text-only arm) — the reference's
    framework/priority knob (static_parser.py:59-141 dispatch).
    ``html_main_content``: strip navigation/ads/social chrome via the
    tag/class blocklists (north-rule boilerplate strip; off by default
    for reference byte parity).

    skew_mode="tail" (default): only payloads above
    ``giant_threshold_bytes`` shuffle (round-robin spread); the bulk
    rides the scan's input splits untouched. skew_mode="range": full
    repartitionByRange on byte size (rebalances everything — 50× the
    shuffle volume for a 2% tail; only for pathologically skewed input
    layouts).
    """
    spark = pages.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )

    has_nbytes = "n_bytes" in pages.columns
    cols = ["url", "html"] + (["n_bytes"] if has_nbytes else [])
    src = pages.select(*cols)  # explicit column pruning
    if repartition:
        size_col = "n_bytes" if has_nbytes else "html"
        if skew_mode == "range":
            src = repartition_by_size(src, num_partitions,
                                      payload_col=size_col)
        else:
            src = split_giant_tail(src, num_partitions,
                                   payload_col=size_col,
                                   threshold_bytes=giant_threshold_bytes)
    src = with_doctype(src)

    if not explode_pdf_pages:
        docs = src.select("url", "doctype", "html").mapInPandas(
            make_extract_doc_map(pdf_framework, html_main_content),
            TIMED_DOC_SCHEMA,
        )
    else:
        # per-page fan-out for giant-PDF skew: explode pages, merge back
        # with the salted two-phase groupBy (deterministic byte order)
        non_pdf = src.filter(F.col("doctype") != "pdf")
        # image-bearing PDFs take the OCR arm in the doc-level kernel
        # (P5) — only layout-parsed PDFs fan out per page
        pdf_flagged = with_pdf_flags(src.filter(F.col("doctype") == "pdf"))
        ocr_pdfs = pdf_flagged.filter(F.col("has_image")).select(
            "url", "doctype", "html"
        )
        docs_simple = (
            non_pdf.select("url", "doctype", "html")
            .unionByName(ocr_pdfs)
            .mapInPandas(
                make_extract_doc_map(pdf_framework, html_main_content),
                TIMED_DOC_SCHEMA,
            )
        )
        pdf_src = pdf_flagged.filter(~F.col("has_image"))
        pages_rows = pdf_src.select("url", "html").mapInPandas(
            pdf_pages_map, PDF_PAGES_SCHEMA
        )
        pdf_errors = pages_rows.filter(F.col("error").isNotNull())
        pages_ok = pages_rows.filter(F.col("error").isNull())
        merged = salted_group_merge(
            pages_ok, key="url", sort_col="page", content_col="content",
            salt_buckets=salt_buckets, sep="\n\n",
        )
        pdf_docs = merged.select(
            "url",
            F.col("content").alias("raw"),
            F.transform(
                F.col("_sorted_parts"),
                lambda p: F.struct(
                    p.getField("s").cast("int").alias("page"),
                    F.lit(None).cast("string").alias("section"),
                    p.getField("c").alias("content"),
                ),
            ).alias("segments"),
            F.lit("STATIC_PARSE").alias("parser_used"),
            F.lit(None).cast("string").alias("error"),
            F.lit(None).cast("long").alias("kernel_us"),
        )
        pdf_err_docs = pdf_errors.select(
            "url",
            F.lit(None).cast("string").alias("raw"),
            F.lit(None).cast(DOC_SCHEMA["segments"].dataType).alias("segments"),
            F.lit("STATIC_PARSE").alias("parser_used"),
            F.col("error"),
            F.lit(None).cast("long").alias("kernel_us"),
        )
        docs = docs_simple.unionByName(pdf_docs).unionByName(pdf_err_docs)

    from lexoid_spark.functions.textstats import token_count

    extracted = (
        docs.filter(F.col("error").isNull())
        .select(
            "url",
            doc_title(F.col("url")).alias("title"),
            "raw",
            "segments",
            "parser_used",
            F.length("raw").alias("n_chars"),
            # whitespace token count, native JVM (A5/A9 analogue over
            # extracted text; the reference's LLM token accounting
            # stays zeroed in api.py — no LLM arm)
            token_count(F.col("raw")).alias("n_tokens"),
        )
    )
    errors = quarantine(docs, "extract", run_id)
    out = {"extracted": extracted, "errors": errors}
    if return_docs:
        out["docs"] = docs
    return out
