"""Doctype routing + error quarantine (reference P1-P7 as DataFrame ops).

The reference's AUTO router (``utils.py:530-588``) is an imperative
if/else over per-file probes; here the magic-byte sniff is a native
column computed once per row and the decision is a ``when/otherwise``
chain — free for Catalyst to prune when a branch filter makes it
constant. The PDF image/hyperlink byte scan (P2/P3) runs inside the
dispatch kernel, next to the parse it selects. Exceptions become
``error`` columns and quarantined unions (P6/P7), never task failures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_doctype(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Add the magic-byte ``doctype`` column (S1) — fully native.

    Mirrors ``kernels.pdf_md.sniff_doctype`` (the kernel twin used for
    golden computation) with JVM-side expressions: hex-compare the %PDF-
    magic, latin-1 decode of the first 512 bytes for the HTML probes,
    first-line comma test for CSV. No Python in this hot path.
    """
    head = F.decode(F.substring(F.col(payload_col), 1, 512), "ISO-8859-1")
    # bytes.lstrip() strips all whitespace, Spark ltrim only spaces →
    # use a regexp to match the kernel twin exactly
    low = F.lower(F.regexp_replace(head, r"^\s+", ""))
    first_line = F.split(head, "\n").getItem(0)
    # 4-byte UTF-32 BOMs must be probed BEFORE the 2-byte UTF-16 ones
    # (the UTF-32-LE BOM FF FE 00 00 *starts with* the UTF-16-LE BOM
    # FF FE) — same ordering as text_ops.decode_payload's _BOMS table.
    _u32bom = F.hex(F.substring(F.col(payload_col), 1, 4)).isin(
        "FFFE0000", "0000FEFF"
    )
    _u32 = F.decode(F.substring(F.col(payload_col), 1, 512), "UTF-32")
    _u32low = F.lower(F.regexp_replace(_u32, r"^\s+", ""))
    _u32first = F.split(_u32, "\n").getItem(0)
    _u16bom = F.hex(F.substring(F.col(payload_col), 1, 2)).isin(
        "FFFE", "FEFF"
    )
    _u16 = F.decode(F.substring(F.col(payload_col), 1, 512), "UTF-16")
    _u16low = F.lower(F.regexp_replace(_u16, r"^\s+", ""))
    _u16first = F.split(_u16, "\n").getItem(0)
    return df.withColumn(
        "doctype",
        F.when(
            F.hex(F.substring(F.col(payload_col), 1, 5)) == "255044462D",
            F.lit("pdf"),
        )
        .when(
            F.hex(F.substring(F.col(payload_col), 1, 4)) == "504B0304",
            F.lit("zip"),  # OPC container (docx/xlsx/pptx); refined in-kernel
        )
        .when(
            F.hex(F.substring(F.col(payload_col), 1, 4)).isin(
                "494D4721",  # FAKE container "IMG!"
                "89504E47",  # PNG
                "47494638",  # GIF8
            )
            | (F.hex(F.substring(F.col(payload_col), 1, 3)) == "FFD8FF")
            # JPEG 2000: JP2 signature box / raw SOC codestream
            | (F.hex(F.substring(F.col(payload_col), 1, 8))
               == "0000000C6A502020")
            | (F.hex(F.substring(F.col(payload_col), 1, 2)) == "FF4F")
            # TIFF: II*\0 little / MM\0* big endian
            | F.hex(F.substring(F.col(payload_col), 1, 4)).isin(
                "49492A00", "4D4D002A")
            # BMP: 'BM' + a known DIB header size at offset 14 ('BM'
            # alone is a plausible text prefix)
            | ((F.hex(F.substring(F.col(payload_col), 1, 2)) == "424D")
               & F.hex(F.substring(F.col(payload_col), 15, 4)).isin(
                   "28000000", "34000000", "38000000",
                   "6C000000", "7C000000"))
            # WebP: RIFF....WEBP
            | ((F.hex(F.substring(F.col(payload_col), 1, 4)) == "52494646")
               & (F.hex(F.substring(F.col(payload_col), 9, 4))
                  == "57454250")),
            F.lit("image"),  # → OCR arm (P5)
        )
        # UTF-32 BOM first (see _u32bom comment), then UTF-16: probe
        # the decoded head (Java's UTF-16/UTF-32 charsets honor the
        # BOM, matching python's "utf-16"/"utf-32" codecs)
        .when(
            _u32bom & (
                _u32low.startswith("<!doctype") | _u32low.startswith("<html")
                | _u32low.startswith("<head") | _u32low.startswith("<body")
                | _u32low.contains("<html")
            ),
            F.lit("html"),
        )
        .when(
            _u32bom & _u32first.contains(",") & ~_u32first.contains("<"),
            F.lit("csv"),
        )
        .when(_u32bom, F.lit("txt"))
        .when(
            _u16bom & (
                _u16low.startswith("<!doctype") | _u16low.startswith("<html")
                | _u16low.startswith("<head") | _u16low.startswith("<body")
                | _u16low.contains("<html")
            ),
            F.lit("html"),
        )
        .when(
            _u16bom & _u16first.contains(",") & ~_u16first.contains("<"),
            F.lit("csv"),
        )
        .when(_u16bom, F.lit("txt"))
        .when(
            low.startswith("<!doctype") | low.startswith("<html")
            | low.startswith("<head") | low.startswith("<body")
            | low.contains("<html"),
            F.lit("html"),
        )
        .when(
            first_line.contains(",") & ~first_line.contains("<"),
            F.lit("csv"),
        )
        .otherwise(F.lit("txt")),
    )


def route_parser(df: DataFrame) -> DataFrame:
    """Three-way router (P1/P5 minus the LLM arm).

    The reference routes text/spreadsheet → STATIC always, PDFs
    without images → STATIC (``utils.py:557-588``); image files and
    image-bearing PDFs route to the OCR arm (``bbox_router``,
    ``utils.py:591-612``: image/* → paddleocr, pdf with images →
    paddleocr, pdf without → pdfplumber). The LLM arm stays out of the
    static rebuild's scope → UNSUPPORTED/quarantine.
    """
    return df.withColumn(
        "route",
        F.when(
            F.col("doctype").isin("html", "csv", "txt", "zip"),
            F.lit("STATIC"),
        )
        .when(
            (F.col("doctype") == "pdf") & (~F.col("has_image")),
            F.lit("STATIC"),
        )
        .when(
            (F.col("doctype") == "image")
            | ((F.col("doctype") == "pdf") & F.col("has_image")),
            F.lit("OCR"),
        )
        .otherwise(F.lit("UNSUPPORTED")),
    )


def low_yield_split(extracted: DataFrame,
                    character_threshold: int = 100) -> dict:
    """P4: the reference's cost-priority short-circuit
    (``api.py:66-82``) — keep a cheap parse only if it yielded at least
    ``character_threshold`` stripped characters, else hand the doc to
    the expensive pass. With no LLM arm, low-yield docs route to a
    ``needs_review`` table instead of a second parser.
    """
    # NB: F.trim strips only spaces; the kernels emit leading/trailing
    # newlines, so strip all whitespace (the reference strips with
    # str.strip(), api.py:70)
    yield_chars = F.length(
        F.regexp_replace(F.col("raw"), r"^\s+|\s+$", "")
    )
    ok = extracted.filter(yield_chars >= character_threshold)
    low = extracted.filter(
        (yield_chars < character_threshold) | yield_chars.isNull()
    )
    return {"kept": ok, "needs_review": low}


def filter_segment_pages(df: DataFrame, page_nums: list[int],
                         segments_col: str = "segments") -> DataFrame:
    """S11: the reference's ``page_nums`` sub-document selection
    (``utils.py:46-57`` create_sub_pdf) — as an array filter on the
    segments column, no re-parse."""
    wanted = F.array([F.lit(p) for p in sorted(set(page_nums))])
    return df.withColumn(
        segments_col,
        F.filter(
            F.col(segments_col),
            lambda s: F.array_contains(wanted, s.getField("page")),
        ),
    )


def quarantine(df: DataFrame, stage: str, run_id: str,
               error_col: str = "error") -> DataFrame:
    """Project failed rows into the errors-table schema (FIXTURES.md §4)."""
    return (
        df.filter(F.col(error_col).isNotNull())
        .select(
            "url",
            F.lit(stage).alias("stage"),
            F.col(error_col).alias("error"),
            F.lit(run_id).alias("run_id"),
        )
    )
