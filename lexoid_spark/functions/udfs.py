"""Vectorized pandas/Arrow UDF wrappers around the pure-Python kernels.

Every UDF runs one Python invocation per Arrow batch, never per Spark
row (BASELINE.json::input_hint: "vectorized pandas/Arrow UDFs (no
per-row Python) throughout"). ``row_udf`` is the one lift of a per-row
Python function to such a column; the dispatch kernel is a
``mapInPandas`` iterator. Dispatch failures become an ``error``
column, not task failures — the reference's retry decorators
(``api.py:56-123``, ``static_parser.py:22-55``) re-expressed as
error-quarantine unions.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.kernels.html_md import html_to_md
from lexoid_spark.kernels.pdf_md import (
    PdfInlineImageError,
    pdf_flags,
    pdf_to_pages,
    pdf_to_text_pages,
)
from lexoid_spark.kernels.segmenter import segment_md
from lexoid_spark.kernels.table_md import csv_to_md


def row_udf(fn: Callable, return_type) -> Callable[..., Column]:
    """``fn(*values) -> value`` as an Arrow-batched pandas UDF named
    after ``fn``: per batch, one call per row over the batch's columns
    as plain Python values (``Series.tolist()``: ints arrive as ``int``,
    strings as ``str``, binary as ``bytes``, a null string or binary as
    ``None``; a numeric column holding nulls arrives as floats with NaN,
    pandas' Arrow conversion). A struct ``return_type`` needs a
    DataFrame per batch, which this does not build."""

    def batch(*cols: pd.Series) -> pd.Series:
        rows = zip(*(c.tolist() for c in cols))
        return pd.Series([fn(*row) for row in rows])

    batch.__name__ = batch.__qualname__ = fn.__name__
    return F.pandas_udf(batch, return_type)


def _txt_decode(payload) -> str:
    from lexoid_spark.kernels.text_ops import decode_payload

    # RTF is text/rtf — it sniffs into the txt arm, where dumping the
    # raw control words would be silently-poor output; parse it
    if payload is not None and bytes(payload[:5]) == b"{\\rtf":
        from lexoid_spark.kernels.rtf import rtf_to_text

        return rtf_to_text(payload)
    return decode_payload(payload)


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


def _by_heading(raw: str) -> list:
    return [{"page": None, "section": s, "content": c}
            for s, c in segment_md(raw)]


def _one_page(raw: str) -> list:
    return [{"page": 1, "section": None, "content": raw}]


def _by_page(pages) -> list:
    return [{"page": p, "section": None, "content": c} for p, c in pages]


def _html_arm(payload, pdf_framework, html_main_content):
    raw = html_to_md(payload, main_content=html_main_content)
    return raw, _by_heading(raw), "STATIC_PARSE"


def _pdf_arm(payload, pdf_framework, html_main_content):
    has_image, _ = pdf_flags(payload)
    if not has_image:
        # text arms; a BI/ID/EI inline image mid-stream reroutes the
        # document to the OCR arm (the byte-scan flag cannot see
        # inline images — pdf_md.PdfInlineImageError docstring)
        try:
            if pdf_framework == "pdfminer":
                pages = pdf_to_text_pages(payload, start=0)
                raw = "\n".join(c for _, c in pages)  # static_parser.py:170
            else:
                pages = pdf_to_pages(payload, start=0)
                raw = "\n\n".join(c for _, c in pages)
            return raw, _by_page(pages), "STATIC_PARSE"
        except PdfInlineImageError:
            pass
    from lexoid_spark.kernels import ocr_stub

    pages = [(p, c) for p, c, _b in ocr_stub.ocr_pdf_to_pages(payload)]
    raw = "\n\n".join(c for _, c in pages)  # static_parser.py:812
    return raw, _by_page(pages), "OCR_PARSE"


def _image_arm(payload, pdf_framework, html_main_content):
    from lexoid_spark.kernels import ocr_stub

    raw, _boxes = ocr_stub.ocr_image_to_page(payload)
    return raw, _one_page(raw), "OCR_PARSE"


# office container → segments: the reference splits pptx output by
# headings into slides, and books segment on chapter headings like html
_OFFICE_SEGMENTS = {"docx": _one_page, "xlsx": _one_page,
                    "pptx": _by_heading, "epub": _by_heading}


def _zip_arm(payload, pdf_framework, html_main_content):
    from lexoid_spark.kernels import office_md

    kind = office_md.sniff_office(payload)
    if kind not in _OFFICE_SEGMENTS:
        raise ValueError("unsupported zip container")  # → quarantine
    raw = getattr(office_md, f"{kind}_to_md")(payload)
    return raw, _OFFICE_SEGMENTS[kind](raw), "STATIC_PARSE"


def _csv_arm(payload, pdf_framework, html_main_content):
    raw = csv_to_md(payload)
    return raw, _one_page(raw), "STATIC_PARSE"


def _txt_arm(payload, pdf_framework, html_main_content):
    raw = _txt_decode(payload)
    return raw, _one_page(raw), "STATIC_PARSE"


_ARMS = {"html": _html_arm, "pdf": _pdf_arm, "image": _image_arm,
         "zip": _zip_arm, "csv": _csv_arm}


def _extract_one(doctype: str, payload, pdf_framework: str = "pdfplumber",
                 html_main_content: bool = False):
    """One document → (raw, segments, parser). The reference's
    parse_static_doc dispatch (static_parser.py:59-141) per row, inside
    an Arrow batch: ``_ARMS[doctype]``, txt for any other doctype.
    ``pdf_framework``: "pdfplumber" (full layout reconstruction,
    default) or "pdfminer" (text-only cheap arm, static_parser.py:
    144-177) — the reference's framework kwarg. ``html_main_content``:
    strip nav/ads/social chrome via the tag/class blocklists
    (north-rule boilerplate strip; default off for reference byte
    parity). Image files and image-bearing PDFs take the OCR arm (P5,
    utils.py:591-612 + static_parser.py:751-818). Every arm names its
    kernels at call time (module globals, ``ocr_stub.*``,
    ``office_md.*_to_md``), so patching them patches the dispatch."""
    arm = _ARMS.get(doctype, _txt_arm)
    return arm(payload, pdf_framework, html_main_content)


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
