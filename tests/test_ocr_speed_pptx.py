"""Round-2 coverage closers: OCR arm (P5), pdfminer-style speed arm,
PPTX kernel (S9).

Reference semantics: bbox_router three-way routing
(utils.py:591-612), parse_with_paddleocr per-page assembly
(static_parser.py:751-818), parse_with_pdfminer text-only pages
(static_parser.py:144-177), pptx2md + heading split
(static_parser.py:119-139).
"""

import pytest
from pyspark.sql import functions as F

from lexoid_spark.corpus.pdf_gen import build_pdf, words_line
from lexoid_spark.functions.multimodal import encode_fake_image
from lexoid_spark.kernels.ocr_stub import ocr_image_to_page, ocr_pdf_to_pages
from lexoid_spark.kernels.pdf_md import pdf_flags, pdf_to_text, sniff_doctype


# --- routing (P5) -------------------------------------------------------------

def test_sniff_detects_images():
    assert sniff_doctype(encode_fake_image(100, 50)) == "image"
    assert sniff_doctype(b"\x89PNG\r\n\x1a\n" + b"\0" * 20) == "image"
    assert sniff_doctype(b"\xff\xd8\xff\xe0" + b"\0" * 20) == "image"
    assert sniff_doctype(b"GIF89a" + b"\0" * 20) == "image"


def test_native_sniff_matches_kernel_for_images(spark):
    from lexoid_spark.operators.routing import with_doctype

    payloads = [
        (encode_fake_image(10, 10),),
        (b"\x89PNG\r\n\x1a\n" + b"\0" * 8,),
        (b"\xff\xd8\xff\xe0" + b"\0" * 8,),
        (b"%PDF-1.4 x",),
        (b"plain words",),
    ]
    df = spark.createDataFrame(payloads, "html binary")
    got = [r["doctype"] for r in with_doctype(df).collect()]
    exp = [sniff_doctype(p[0]) for p in payloads]
    assert got == exp == ["image", "image", "image", "pdf", "txt"]


def test_pdf_flags_reference_strip_semantics():
    scanned = build_pdf([{"images": [(320, 240, 3)]}])
    assert pdf_flags(scanned) == (True, False)
    plain = build_pdf([{"words": words_line(["x"], y=700)}])
    assert pdf_flags(plain) == (False, False)


# --- OCR kernel stub -----------------------------------------------------------

def test_ocr_image_deterministic_shape():
    text, boxes = ocr_image_to_page(encode_fake_image(640, 480, 3))
    assert text == "scan640x480 ch3 ocr"
    assert [b[0] for b in boxes] == text.split()
    for _w, (x0, top, x1, bottom) in boxes:
        assert 0 <= x0 < x1 <= 1 and 0 <= top < bottom <= 1


def test_ocr_real_png_recognizes():
    # the old NotImplementedError seam is retired: real PNG pixels
    # decode and template-match (kernels/ocr_glyph.py)
    from lexoid_spark.kernels.ocr_glyph import render_text_png

    text, boxes = ocr_image_to_page(render_text_png("SCAN 42 OK"))
    assert text == "SCAN 42 OK"
    assert [b[0] for b in boxes] == ["SCAN", "42", "OK"]


def test_ocr_corrupt_payload_still_quarantines():
    with pytest.raises(Exception):
        ocr_image_to_page(b"\x89PNG\r\n\x1a\n" + b"\0" * 32)
    with pytest.raises(ValueError):
        ocr_image_to_page(b"not an image at all")


def test_ocr_pdf_pages_one_per_embedded_image():
    pdf = build_pdf([{"images": [(320, 240, 3), (100, 50, 1)]}])
    pages = ocr_pdf_to_pages(pdf)
    assert [(p, t) for p, t, _ in pages] == [
        (1, "scan320x240 ch3 ocr"), (2, "scan100x50 ch1 ocr")]


def test_scanned_docs_extract_not_quarantined(spark):
    """img_scan + pdf_scanned corpus classes land in extracted with
    parser_used=OCR_PARSE (round 1 quarantined them)."""
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract

    pages = pages_df(spark, 44).filter(
        F.col("url").contains("img_scan") | F.col("url").contains("pdf_scanned")
    )
    n = pages.count()
    assert n >= 2
    out = extract(pages)["extracted"].collect()
    assert len(out) == n
    assert {r["parser_used"] for r in out} == {"OCR_PARSE"}
    # img_scan/pdf_scanned carry FAKE containers -> dimension text
    # ("scan640x480 ..."); the real-pixel classes OCR their rendered
    # glyph text back exactly.
    expect = {
        "img_scan_glyph": "SCAN DOC",
        "pdf_scanned_jpeg": "JPEG SCAN",
        "pdf_scanned_flate": "FLATE SCAN",
        "pdf_scanned_g4": "G4 FAX",
    }
    for r in out:
        cls = r["url"].split("/")[-2]
        assert r["raw"].startswith(expect.get(cls, "scan")), r["url"]


# --- speed arm ------------------------------------------------------------------

def test_pdf_speed_arm_text_only():
    words = words_line(["Title", "words"], y=720, size=24, font="F2")
    words += words_line(["body", "line", "one"], y=680)
    words += words_line(["body", "line", "two"], y=660)
    pdf = build_pdf([{"words": words}], compress=True)
    # layout arm produces markdown; speed arm plain lines
    assert pdf_to_text(pdf) == "Title words\nbody line one\nbody line two"


def test_pdf_speed_arm_pages_joined_newline():
    p1 = {"words": words_line(["page", "one"], y=700)}
    p2 = {"words": words_line(["page", "two"], y=700)}
    assert pdf_to_text(build_pdf([p1, p2])) == "page one\npage two"


def test_extract_pdfminer_framework_knob(spark):
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract

    pages = pages_df(spark, 26).filter(F.col("url").contains("pdf_plain"))
    fast = extract(pages, pdf_framework="pdfminer")["extracted"]
    rows = fast.collect()
    assert rows
    for r in rows:
        assert "**" not in r["raw"] and "#" not in r["raw"]  # no markdown
        assert "\n" in r["raw"]  # line structure preserved


# --- PPTX (S9) -------------------------------------------------------------------

def test_pptx_kernel_headings_and_slides():
    from lexoid_spark.corpus.gen import gen_page_row
    from lexoid_spark.kernels.office_md import pptx_to_md, sniff_office

    # find a pptx_deck row
    from lexoid_spark.corpus.gen import ALL_CLASSES

    idx = ALL_CLASSES.index("pptx_deck")
    _url, _ts, payload, _t, _l = gen_page_row(idx)
    assert sniff_office(payload) == "pptx"
    md = pptx_to_md(payload)
    assert md.startswith(f"# Slide 1 of deck {idx}")
    assert f"# Slide 2 of deck {idx}" in md


def test_pptx_segments_are_slides(spark):
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract

    pages = pages_df(spark, 44).filter(F.col("url").contains("pptx_deck"))
    out = extract(pages)["extracted"].collect()
    assert out
    for r in out:
        # one heading-split segment per slide, titled "Slide N of deck i"
        # (plus the segmenter's empty 'Introduction' preamble)
        sections = [s["section"] for s in r["segments"]
                    if s["content"].strip()]
        assert all(sec and sec.startswith("Slide") for sec in sections)
        assert len(sections) >= 2
