"""The flagship extraction pipeline: pages → extracted markdown.

Spark rebuild of the reference lifecycle (SURVEY.md §3 entry point 1):

    pages(url, warc_ts, html, text, lang)
      → column-pruned scan (url, html [, n_bytes])
      → optional giant-tail split: only payloads above 1 MiB shuffle
        (round-robin); the bulk rides the scan's input splits, and an
        n_bytes column makes the tail predicate pushable to parquet
      → native magic-byte doctype sniff (JVM, no Python)
      → ONE mapInPandas dispatch pass: html_to_md / pdf layout parse /
        csv pipe-table / txt decode + segmentation, per Arrow batch
      → error-quarantine split
      → extracted(url, title, raw, segments, parser_used, n_chars)

There is one plan shape. Document-level parallelism is ample at 10^12
rows, so the reference's per-page chunking (api.py:339-382) has no
Spark counterpart: a giant document is one row that the tail split
moves off its input split, and its pages are assembled in the kernel.

All extraction Python runs inside Arrow batches; orchestration is
native DataFrame ops. tests/test_pipeline.py and tests/test_plan_shape.py
pin the plan shape and byte identity vs driver-side kernel output.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame

from lexoid_spark.functions.udfs import TIMED_DOC_SCHEMA, make_extract_doc_map
from lexoid_spark.operators.partitioning import split_giant_tail
from lexoid_spark.operators.routing import quarantine, with_doctype


# The extracted projection as SQL text, like the sniff: every
# ``extract()`` builds it, and its Column-API spelling costs ~190 py4j
# round trips per build. tests/test_plan_shape.py pins its plans to that
# spelling.
EXTRACTED_SQL = (
    "url",
    # title = basename of the url path (reference api.py:262 analogue)
    "element_at(split(url, '/'), -1) AS title",
    "raw",
    "segments",
    "parser_used",
    "length(raw) AS n_chars",
    # whitespace token count, native JVM (A5/A9 analogue over extracted
    # text; the reference's LLM token accounting stays zeroed in
    # api.py — no LLM arm): ``functions/textstats.py::token_count``
    "size(CASE WHEN length(trim(raw)) = 0 THEN CAST(array() AS "
    "ARRAY<STRING>) ELSE split(trim(raw), r'\\s+') END) AS n_tokens",
)


def extract(pages: DataFrame, run_id: str = "run0",
            repartition: bool = True,
            pdf_framework: str = "pdfplumber",
            html_main_content: bool = False) -> Dict[str, DataFrame]:
    """Build the extraction plan. Returns {"extracted", "errors", "docs"}.

    ``docs`` is the pre-split frame both branches read: callers that
    sink BOTH — the resumable job (``plans/job.py``, once per bucket
    group) and the streaming sink — persist it so the kernels run once
    per document, not once per branch (Spark's cache manager matches
    the shared analyzed plan). Its columns are ``TIMED_DOC_SCHEMA``:
    ``DOC_SCHEMA`` plus each document's in-band ``kernel_us``.

    ``repartition``: spread payloads above 1 MiB round-robin over
    ``spark.sql.shuffle.partitions`` tasks (``split_giant_tail``); the
    bulk never shuffles. Off for sources that cannot shuffle (the
    streaming sink) and for small materialised inputs (the fixture
    queries).
    ``pdf_framework``: "pdfplumber" (full layout reconstruction,
    default) or "pdfminer" (cheap text-only arm) — the reference's
    framework/priority knob (static_parser.py:59-141 dispatch).
    ``html_main_content``: strip navigation/ads/social chrome via the
    tag/class blocklists (north-rule boilerplate strip; off by default
    for reference byte parity).
    """
    has_nbytes = "n_bytes" in pages.columns
    src = pages.selectExpr(  # explicit column pruning
        "url", "html", *(["n_bytes"] if has_nbytes else []))
    if repartition:
        num_partitions = int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        src = split_giant_tail(
            src, num_partitions,
            payload_col="n_bytes" if has_nbytes else "html",
        )
    docs = with_doctype(src).selectExpr("url", "doctype", "html").mapInPandas(
        make_extract_doc_map(pdf_framework, html_main_content),
        TIMED_DOC_SCHEMA,
    )
    extracted = docs.filter("error IS NULL").selectExpr(*EXTRACTED_SQL)
    errors = quarantine(docs, "extract", run_id)
    return {"extracted": extracted, "errors": errors, "docs": docs}
