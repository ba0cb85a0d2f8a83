"""Doctype routing + error quarantine (reference P1-P7 as DataFrame ops).

The reference's AUTO router (``utils.py:530-588``) is an imperative
if/else over per-file probes; here the magic-byte sniff is a native
``CASE`` column computed once per row — free for Catalyst to prune when
a branch filter makes it constant. The STATIC/OCR decision and the PDF
image/hyperlink byte scan (P2/P3) it rests on run inside the dispatch
kernel (``functions/udfs.py::_extract_one``), next to the parse they
select. Exceptions become
``error`` columns and quarantined unions (P6/P7), never task failures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lexoid_spark.functions.columns import sql_ident, sql_str


def _left_deep(op: str, terms) -> str:
    """``t1 op t2 op ...`` grouped to the left, as Python's ``|``/``&``
    build a Column chain. Spark's SQL parser balances an unparenthesized
    chain instead (``a OR b OR c OR d OR e`` parses as
    ``((a OR b) OR c) OR (d OR e)``), so every step is parenthesized."""
    terms = list(terms)
    sql = terms[0]
    for term in terms[1:]:
        sql = f"({sql}) {op} ({term})"
    return sql


def _any(*terms) -> str:
    return _left_deep("OR", terms)


def _all(*terms) -> str:
    return _left_deep("AND", terms)


def _sniff_sql(payload_col: str) -> str:
    """The doctype ``CASE`` of ``with_doctype`` as one SQL expression."""
    p = sql_ident(payload_col)

    def hex_at(pos: int, n: int) -> str:
        return f"hex(substring({p}, {pos}, {n}))"

    def head(charset: str) -> str:
        return f"decode(substring({p}, 1, 512), '{charset}')"

    def lstripped_lower(text: str) -> str:
        # bytes.lstrip() strips all whitespace, Spark ltrim only spaces
        # → a regexp matches the kernel twin exactly
        return f"lower(regexp_replace({text}, r'^\\s+', ''))"

    def first_line(text: str) -> str:
        # the literal newline keeps the pattern identical whether or
        # not the session unescapes string literals
        return f"split({text}, '\n')[0]"

    def is_html(low: str) -> str:
        return _any(*(f"startswith({low}, '{tag}')" for tag in
                      ("<!doctype", "<html", "<head", "<body")),
                    f"contains({low}, '<html')")

    def csv_terms(text: str) -> tuple[str, str]:
        line = first_line(text)
        return f"contains({line}, ',')", f"NOT contains({line}, '<')"

    image = _any(
        # FAKE container "IMG!", PNG, GIF8; JPEG
        f"{hex_at(1, 4)} IN ('494D4721', '89504E47', '47494638')",
        f"{hex_at(1, 3)} = 'FFD8FF'",
        # JPEG 2000: JP2 signature box / raw SOC codestream
        f"{hex_at(1, 8)} = '0000000C6A502020'",
        f"{hex_at(1, 2)} = 'FF4F'",
        # TIFF: II*\0 little / MM\0* big endian
        f"{hex_at(1, 4)} IN ('49492A00', '4D4D002A')",
        # BMP: 'BM' + a known DIB header size at offset 14 ('BM' alone
        # is a plausible text prefix)
        _all(f"{hex_at(1, 2)} = '424D'",
             f"{hex_at(15, 4)} IN ('28000000', '34000000', '38000000', "
             "'6C000000', '7C000000')"),
        # WebP: RIFF....WEBP
        _all(f"{hex_at(1, 4)} = '52494646'", f"{hex_at(9, 4)} = '57454250'"),
    )
    arms = [
        (f"{hex_at(1, 5)} = '255044462D'", "pdf"),
        (f"{hex_at(1, 4)} = '504B0304'", "zip"),  # OPC; refined in-kernel
        (image, "image"),  # → OCR arm (P5)
        # RTF ("{\rtf") is text: its first line would otherwise pass
        # the csv probe whenever it holds a comma and no '<'
        (f"{hex_at(1, 5)} = '7B5C727466'", "txt"),
    ]
    # 4-byte UTF-32 BOMs must be probed BEFORE the 2-byte UTF-16 ones
    # (the UTF-32-LE BOM FF FE 00 00 *starts with* the UTF-16-LE BOM
    # FF FE) — same ordering as text_ops.decode_payload's _BOMS table.
    # Java's UTF-16/UTF-32 charsets honor the BOM, matching python's
    # "utf-16"/"utf-32" codecs.
    for bom, charset in (
        (f"{hex_at(1, 4)} IN ('FFFE0000', '0000FEFF')", "UTF-32"),
        (f"{hex_at(1, 2)} IN ('FFFE', 'FEFF')", "UTF-16"),
    ):
        text = head(charset)
        arms += [
            (_all(bom, is_html(lstripped_lower(text))), "html"),
            (_all(bom, *csv_terms(text)), "csv"),
            (bom, "txt"),
        ]
    latin1 = head("ISO-8859-1")
    arms += [
        (is_html(lstripped_lower(latin1)), "html"),
        (_all(*csv_terms(latin1)), "csv"),
    ]
    whens = " ".join(f"WHEN {cond} THEN '{label}'" for cond, label in arms)
    return f"CASE {whens} ELSE 'txt' END"


def with_doctype(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Add the magic-byte ``doctype`` column (S1) — fully native.

    Mirrors ``kernels.pdf_md.sniff_doctype`` (the kernel twin used for
    golden computation) with JVM-side expressions: hex-compare the
    magic bytes, decode the first 512 bytes (UTF-32/UTF-16 when a BOM
    says so, else latin-1) for the HTML probes, first-line comma test
    for CSV. No Python in this hot path.

    The expression is one SQL string handed to a single ``F.expr``: the
    same ``CASE`` through the Column API took ~140 calls, each several
    py4j round trips, on every ``extract()``. tests/test_plan_shape.py
    pins the analyzed and optimized plans to the Column-API spelling.
    """
    return df.withColumn("doctype", F.expr(_sniff_sql(payload_col)))


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


def quarantine(df: DataFrame, stage: str, run_id: str,
               error_col: str = "error") -> DataFrame:
    """Project failed rows into the errors-table schema (FIXTURES.md §4).

    Built as SQL text, like ``with_doctype``: it is part of every
    ``extract()`` plan, and each Column-API call costs py4j round trips
    on the driver."""
    err = sql_ident(error_col)
    return df.filter(f"{err} IS NOT NULL").selectExpr(
        "url",
        f"{sql_str(stage)} AS stage",
        f"{err} AS error",
        f"{sql_str(run_id)} AS run_id",
    )
