"""Vectorized pandas/Arrow UDF wrappers around the pure-Python kernels.

Every UDF is Series→Series (or iterator-of-batches for variable row
counts) — one Python invocation per Arrow batch, never per row
(BASELINE.json::input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout"). Kernel failures become an ``error`` column, not
task failures — the reference's retry decorators (``api.py:56-123``,
``static_parser.py:22-55``) re-expressed as error-quarantine unions.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.kernels.html_md import html_to_md
from lexoid_spark.kernels.pdf_md import pdf_flags, pdf_to_pages
from lexoid_spark.kernels.segmenter import segment_md
from lexoid_spark.kernels.table_md import csv_to_md

# result struct for fallible kernels: (raw, error)
RAW_ERR_TYPE = T.StructType([
    T.StructField("raw", T.StringType()),
    T.StructField("error", T.StringType()),
])

SEGMENT_TYPE = T.ArrayType(T.StructType([
    T.StructField("page", T.IntegerType()),
    T.StructField("section", T.StringType()),
    T.StructField("content", T.StringType()),
]))


def _guarded(fn):
    def inner(payload):
        try:
            return {"raw": fn(payload), "error": None}
        except Exception as e:  # quarantine, never fail the task
            return {"raw": None, "error": f"{type(e).__name__}: {e}"}
    return inner


@F.pandas_udf(RAW_ERR_TYPE)
def html_to_md_udf(payloads: pd.Series) -> pd.DataFrame:
    rows = [_guarded(html_to_md)(p) for p in payloads]
    return pd.DataFrame(rows)


@F.pandas_udf(RAW_ERR_TYPE)
def html_main_to_md_udf(payloads: pd.Series) -> pd.DataFrame:
    """Main-content variant: boilerplate chrome stripped via the
    tag/class blocklists before markdown emission."""
    rows = [
        _guarded(lambda p: html_to_md(p, main_content=True))(p)
        for p in payloads
    ]
    return pd.DataFrame(rows)


def _txt_decode(payload) -> str:
    from lexoid_spark.kernels.text_ops import decode_payload

    # RTF is text/rtf — it sniffs into the txt arm, where dumping the
    # raw control words would be silently-poor output; parse it
    if payload is not None and bytes(payload[:5]) == b"{\\rtf":
        from lexoid_spark.kernels.rtf import rtf_to_text

        return rtf_to_text(payload)
    return decode_payload(payload)


@F.pandas_udf(RAW_ERR_TYPE)
def txt_decode_udf(payloads: pd.Series) -> pd.DataFrame:
    rows = [_guarded(_txt_decode)(p) for p in payloads]
    return pd.DataFrame(rows)


@F.pandas_udf(SEGMENT_TYPE)
def segment_md_udf(mds: pd.Series) -> pd.Series:
    out = []
    for md in mds:
        if md is None:
            out.append([])
            continue
        out.append([
            {"page": None, "section": sec, "content": content}
            for sec, content in segment_md(md)
        ])
    return pd.Series(out)


# --- single-pass dispatch kernel (mapInPandas) -------------------------------

DOC_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("raw", T.StringType()),
    T.StructField("segments", T.ArrayType(T.StructType([
        T.StructField("page", T.IntegerType()),
        T.StructField("section", T.StringType()),
        T.StructField("content", T.StringType()),
    ]))),
    T.StructField("parser_used", T.StringType()),
    T.StructField("error", T.StringType()),
])

# the dispatch kernel's output: DOC_SCHEMA + the document's in-band
# kernel time in µs (``_extract_one`` wall, also for a quarantined doc)
TIMED_DOC_SCHEMA = T.StructType(
    DOC_SCHEMA.fields + [T.StructField("kernel_us", T.LongType())]
)


def _extract_one(doctype: str, payload, pdf_framework: str = "pdfplumber",
                 html_main_content: bool = False):
    """One document → (raw, segments, parser). The reference's
    parse_static_doc dispatch (static_parser.py:59-141) per row, inside
    an Arrow batch. ``pdf_framework``: "pdfplumber" (full layout
    reconstruction, default) or "pdfminer" (text-only cheap arm,
    static_parser.py:144-177) — the reference's framework kwarg.
    ``html_main_content``: strip nav/ads/social chrome via the
    tag/class blocklists (north-rule boilerplate strip; default off
    for reference byte parity). Image files and image-bearing PDFs
    take the OCR arm (P5, utils.py:591-612 + static_parser.py:751-818)."""
    parser = "STATIC_PARSE"
    if doctype == "html":
        raw = html_to_md(payload, main_content=html_main_content)
        segs = [
            {"page": None, "section": s, "content": c}
            for s, c in segment_md(raw)
        ]
    elif doctype == "pdf":
        has_image, _ = pdf_flags(payload)
        if not has_image:
            # text arms; a BI/ID/EI inline image mid-stream reroutes
            # the document to the OCR arm (the byte-scan flag cannot
            # see inline images — pdf_md.PdfInlineImageError docstring)
            from lexoid_spark.kernels.pdf_md import PdfInlineImageError

            try:
                if pdf_framework == "pdfminer":
                    from lexoid_spark.kernels.pdf_md import pdf_to_text_pages

                    pages = pdf_to_text_pages(payload, start=0)
                    raw = "\n".join(c for _, c in pages)  # static_parser.py:170
                else:
                    pages = pdf_to_pages(payload, start=0)
                    raw = "\n\n".join(c for _, c in pages)
            except PdfInlineImageError:
                has_image = True
        if has_image:
            from lexoid_spark.kernels.ocr_stub import ocr_pdf_to_pages

            pages = [(p, c) for p, c, _b in ocr_pdf_to_pages(payload)]
            raw = "\n\n".join(c for _, c in pages)  # static_parser.py:812
            parser = "OCR_PARSE"
        segs = [
            {"page": p, "section": None, "content": c} for p, c in pages
        ]
    elif doctype == "image":
        from lexoid_spark.kernels.ocr_stub import ocr_image_to_page

        raw, _boxes = ocr_image_to_page(payload)
        segs = [{"page": 1, "section": None, "content": raw}]
        parser = "OCR_PARSE"
    elif doctype == "zip":
        from lexoid_spark.kernels.office_md import (
            docx_to_md,
            epub_to_md,
            pptx_to_md,
            sniff_office,
            xlsx_to_md,
        )

        office = sniff_office(payload)
        if office == "docx":
            raw = docx_to_md(payload)
            segs = [{"page": 1, "section": None, "content": raw}]
        elif office == "xlsx":
            raw = xlsx_to_md(payload)
            segs = [{"page": 1, "section": None, "content": raw}]
        elif office == "pptx":
            raw = pptx_to_md(payload)
            # reference splits pptx output by headings → slide segments
            segs = [
                {"page": None, "section": s, "content": c}
                for s, c in segment_md(raw)
            ]
        elif office == "epub":
            raw = epub_to_md(payload)
            # books segment on chapter headings, like html
            segs = [
                {"page": None, "section": s, "content": c}
                for s, c in segment_md(raw)
            ]
        else:
            raise ValueError("unsupported zip container")  # → quarantine
    elif doctype == "csv":
        raw = csv_to_md(payload)
        segs = [{"page": 1, "section": None, "content": raw}]
    else:
        raw = _txt_decode(payload)
        segs = [{"page": 1, "section": None, "content": raw}]
    return raw, segs, parser


def make_extract_doc_map(pdf_framework: str = "pdfplumber",
                         html_main_content: bool = False):
    """Factory for the dispatch kernel with the per-arm knobs bound
    (mapInPandas takes a fixed-signature function; the knobs ride the
    closure, serialized once per task). Output: ``TIMED_DOC_SCHEMA``."""

    def extract_doc_map(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"url": [], "raw": [], "segments": [],
                   "parser_used": [], "error": [], "kernel_us": []}
            for url, doctype, payload in zip(
                    b["url"], b["doctype"], b["html"]):
                t0 = time.perf_counter_ns()
                try:
                    raw, segs, parser = _extract_one(
                        doctype, payload, pdf_framework,
                        html_main_content)
                    err = None
                except Exception as e:
                    raw, segs, err = None, None, f"{type(e).__name__}: {e}"
                    parser = "STATIC_PARSE"
                out["url"].append(url)
                out["raw"].append(raw)
                out["segments"].append(segs)
                out["parser_used"].append(parser)
                out["error"].append(err)
                out["kernel_us"].append(
                    (time.perf_counter_ns() - t0) // 1000)
            yield pd.DataFrame(out)

    return extract_doc_map


# --- PDF word-box table (the reference's bbox side-channel as rows) ----------

PDF_BBOX_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("word", T.StringType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("top", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("bottom", T.DoubleType()),
])


def pdf_bboxes_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (url, html) → one row per word box.

    Reference parity: segments carry "bboxes" normalized to [0,1] by
    page dims (static_parser.py:450-458, :711-718); lifting them to a
    row-per-word table makes the spatial joins (J1/J2 analogues)
    expressible as ordinary DataFrame predicates downstream.
    """
    from lexoid_spark.kernels.pdf_md import pdf_to_pages_with_bboxes

    for b in batches:
        out = {"url": [], "page": [], "word": [], "x0": [], "top": [],
               "x1": [], "bottom": []}
        for url, payload in zip(b["url"], b["html"]):
            try:
                pages = pdf_to_pages_with_bboxes(payload)
            except Exception:
                continue  # undecodable PDFs contribute no boxes
            for page_no, _content, bboxes in pages:
                for word, (x0, top, x1, bottom) in bboxes:
                    out["url"].append(url)
                    out["page"].append(page_no)
                    out["word"].append(word)
                    out["x0"].append(float(x0))
                    out["top"].append(float(top))
                    out["x1"].append(float(x1))
                    out["bottom"].append(float(bottom))
        yield pd.DataFrame(out)


def pdf_word_boxes(df, url_col: str = "url", payload_col: str = "html"):
    """(url, payload) → word-box table (url, page, word, x0..bottom)."""
    from pyspark.sql import functions as F

    src = df.select(F.col(url_col).alias("url"),
                    F.col(payload_col).alias("html"))
    return src.mapInPandas(pdf_bboxes_map, PDF_BBOX_SCHEMA)
