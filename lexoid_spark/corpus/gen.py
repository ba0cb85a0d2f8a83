"""Deterministic synthetic ``pages`` corpus + golden fixtures.

Emits rows in exactly the BASELINE.json::input_hint shape —
``pages(url:string, warc_ts:timestamp, html:binary, text:string,
lang:string)`` — covering every fixture class in FIXTURES.md §3
(HTML headings/lists/links/tables/boilerplate/invalid-bytes, PDF
plain/headings/styles/indent/rules+strike/table/links+emails/multipage,
CSV, TXT, and a giant-HTML skew tail). Fully deterministic from the doc
index (seeded arithmetic, no wall clock), so goldens are stable bytes.

Goldens are produced by running the kernels driver-side: the pipeline
test then asserts the *Spark* output is byte-identical per url — this
checks the distributed plumbing (Arrow transport, giant-tail split,
quarantine split) cannot corrupt a single byte.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Dict, List, Tuple

from lexoid_spark.corpus.pdf_gen import build_pdf, words_line

_WORDS = (
    "data spark table query scan filter join group sort merge batch "
    "stream window value column row key hash part order line fast slow "
    "big small vector agg customer index page text block cache shard"
).split()

LANGS = ("en", "de", "fr", "es", "hi")

HTML_CLASSES = (
    "html_headings", "html_lists_links", "html_table",
    "html_boilerplate", "html_invalid_bytes", "html_utf16",
)
PDF_CLASSES = (
    "pdf_plain", "pdf_headings", "pdf_styles", "pdf_indent",
    "pdf_rules_strike", "pdf_table", "pdf_links_emails", "pdf_multipage",
    "pdf_flate", "pdf_compact", "pdf_objstm",
)
ALL_CLASSES = HTML_CLASSES + PDF_CLASSES + (
    "csv_table", "txt_plain", "docx_doc", "xlsx_sheet",
    "pptx_deck", "img_scan", "pdf_scanned",
    # appended last so earlier class→index assignments shift minimally
    "pdf_cid", "pdf_xrefstm", "img_scan_glyph", "pdf_scanned_jpeg",
    "pdf_scanned_flate", "pdf_scanned_g4",
)

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _rng(i: int) -> random.Random:
    return random.Random(10_000 + i)


def _sentence(r: random.Random, n: int) -> str:
    return " ".join(r.choice(_WORDS) for _ in range(n))


# --- per-class payload builders ---------------------------------------------

def _html_headings(i: int, r: random.Random) -> bytes:
    n_sections = 2 + i % 4
    parts = ["<html><body>", f"<h1>Document {i}</h1>"]
    parts.append(f"<p>{_sentence(r, 12)}</p>")
    for s in range(n_sections):
        parts.append(f"<h3>Section {s} of doc {i}</h3>")
        parts.append(f"<p>{_sentence(r, 20)}</p>")
    parts.append("</body></html>")
    return "".join(parts).encode()


def _html_lists_links(i: int, r: random.Random) -> bytes:
    items = "".join(
        f"<li>item {j} {_sentence(r, 3)}</li>" for j in range(3 + i % 3)
    )
    nested = "<li>outer<ul><li>inner a</li><li>inner b</li></ul></li>"
    return (
        "<html><body>"
        f"<h2>Links {i}</h2>"
        f"<p>See <a href='http://ex.test/doc/{i}'>reference {i}</a> and "
        f"bare http://bare.test/{i} plus mail{i}@example.com now.</p>"
        f"<ul>{items}{nested}</ul>"
        f"<ol><li>first</li><li>second</li></ol>"
        "</body></html>"
    ).encode()


def _html_table(i: int, r: random.Random) -> bytes:
    rows = "".join(
        f"<tr><td>r{j}</td><td>{(i * 7 + j) % 100}</td><td>{_sentence(r, 2)}</td></tr>"
        for j in range(2 + i % 3)
    )
    return (
        "<html><body>"
        f"<h2>Table doc {i}</h2>"
        "<table><tr><th>name</th><th>qty</th><th>note</th></tr>"
        f"{rows}</table>"
        f"<p>after table {_sentence(r, 8)}</p>"
        "</body></html>"
    ).encode()


def _html_boilerplate(i: int, r: random.Random) -> bytes:
    return (
        "<html><head><title>boiler</title>"
        "<style>body{margin:0}</style>"
        "<script>window.track=1;</script></head>"
        "<body><nav><ul><li>home</li><li>about</li></ul></nav>"
        f"<h1>Main {i}</h1><p>{_sentence(r, 25)}</p>"
        f"<p>second para {_sentence(r, 10)}</p>"
        "<footer><p>footer junk</p></footer>"
        "<script>var x=2;</script></body></html>"
    ).encode()


def _html_invalid_bytes(i: int, r: random.Random) -> bytes:
    good = (
        f"<html><body><h2>Broken {i}</h2><p>before {_sentence(r, 6)}"
    ).encode()
    bad = b" \xff\xfe\xc3\x28 "
    tail = f"after {_sentence(r, 6)}</p></body></html>".encode()
    return good + bad + tail


def _html_utf16(i: int, r: random.Random) -> bytes:
    """UTF-16 (BOM'd) HTML — common wild encoding; decoded as
    UTF-8-ignore it shreds every other byte, so both the sniff and
    the kernel must honor the BOM (kernels/text_ops.decode_payload).
    LE/BE alternate by index."""
    doc = (
        f"<html><head><title>UTF16 {i}</title></head><body>"
        f"<h1>Wide {i}</h1><p>{_sentence(r, 10)} naïve café №{i}</p>"
        f"</body></html>"
    )
    enc = "utf-16-le" if i % 2 == 0 else "utf-16-be"
    bom = b"\xff\xfe" if i % 2 == 0 else b"\xfe\xff"
    return bom + doc.encode(enc)


def _html_giant(i: int, r: random.Random, repeat: int = 400) -> bytes:
    sec = (
        f"<h3>Giant section {i}</h3><p>{_sentence(r, 60)}</p>"
    )
    return (
        f"<html><body><h1>Giant {i}</h1>{sec * repeat}</body></html>"
    ).encode()


def _pdf_plain(i: int, r: random.Random) -> bytes:
    words = []
    for li, y in enumerate(range(700, 560, -20)):
        words += words_line(
            [r.choice(_WORDS) for _ in range(6)], y=y, size=12
        )
    return build_pdf([{"words": words}])


def _pdf_headings(i: int, r: random.Random) -> bytes:
    words = words_line([f"Title{i}"], y=720, size=24)
    words += words_line(["Subtitle", "here"], y=680, size=17)
    words += words_line(["Minor", "heading"], y=640, size=15)
    for y in (600, 580, 560, 540):
        words += words_line([r.choice(_WORDS) for _ in range(5)], y=y, size=12)
    return build_pdf([{"words": words}])


def _pdf_styles(i: int, r: random.Random) -> bytes:
    words = words_line(["plain", "text", "line", "one"], y=700)
    words += words_line(["emphasis"], y=660, font="F3")
    words += words_line(["strong"], y=620, font="F2")
    words += words_line(["code", "fence", "line"], y=580, font="F4")
    words += words_line(["closing", "words", "row"], y=540)
    return build_pdf([{"words": words}])


def _pdf_indent(i: int, r: random.Random) -> bytes:
    words = words_line(["base", "paragraph", "words"], y=700, x0=72)
    words += words_line(["level", "one"], y=660, x0=72 + 26)
    words += words_line(["level", "two"], y=620, x0=72 + 52)
    words += words_line(["back", "to", "base"], y=580, x0=72)
    return build_pdf([{"words": words}])


def _pdf_rules_strike(i: int, r: random.Random) -> bytes:
    words = words_line(["above", "rule"], y=700)
    words += words_line(["struck", "word"], y=650)
    words += words_line(["between", "rules"], y=600)
    words += words_line(["below", "everything"], y=500)
    x_struck = words[2]["x"]
    lines = [
        (72, 670, 400, 670),
        (x_struck, 654, x_struck + 20, 654),  # crosses 'struck'
        (72, 550, 400, 550),
    ]
    return build_pdf([{"words": words, "lines": lines}])


def _pdf_table(i: int, r: random.Random) -> bytes:
    xs = [100, 220, 340]
    ys = [560, 600, 640, 680]
    rects = [
        (xs[a], ys[b], xs[a + 1] - xs[a], ys[b + 1] - ys[b])
        for b in range(3) for a in range(2)
    ]
    words = words_line(["Ruled", "table", "doc"], y=720)
    words += words_line(["name"], y=655, x0=110)
    words += words_line(["qty"], y=655, x0=230)
    words += words_line([f"row{i % 5}"], y=615, x0=110)
    words += words_line([str((i * 3) % 40)], y=615, x0=230)
    words += words_line(["alpha"], y=575, x0=110)
    words += words_line([str((i * 7) % 90)], y=575, x0=230)
    words += words_line(["after", "the", "table"], y=500)
    return build_pdf([{"words": words, "rects": rects}])


def _pdf_links_emails(i: int, r: random.Random) -> bytes:
    words = words_line(["visit", "linked", "words", "today"], y=700)
    words += words_line(["email", f"user{i}@corp.example", "inline"], y=660)
    x0 = words[1]["x"]
    x1 = words[2]["x"] + 5
    word_top = 700 + 0.8 * 12
    links = [{
        "uri": f"http://site.test/{i}",
        "rect": (x0, word_top - 5, x1, word_top + 5),
    }]
    return build_pdf([{"words": words, "links": links}])


def _pdf_multipage(i: int, r: random.Random) -> bytes:
    n_pages = 2 + i % 3
    pages = []
    for p in range(n_pages):
        words = words_line([f"page{p + 1}", "marker", f"doc{i}"], y=700)
        words += words_line([r.choice(_WORDS) for _ in range(6)], y=660)
        pages.append({"words": words})
    return build_pdf(pages)


def _pdf_flate(i: int, r: random.Random) -> bytes:
    """Flate-compressed classic-dialect PDF — the near-universal wild
    encoding (reference parses these via pdfplumber,
    static_parser.py:700-727; here stdlib zlib in kernels/pdf_md.py)."""
    words = words_line([f"Flate{i}", "doc"], y=720, size=20)
    for y in range(680, 600, -20):
        words += words_line([r.choice(_WORDS) for _ in range(5)], y=y, size=12)
    return build_pdf([{"words": words}], compress=True)


def _pdf_objstm(i: int, r: random.Random) -> bytes:
    """PDF 1.5 object-stream layout: every dict object (catalog, pages,
    page, fonts) lives inside one Flate-compressed /Type /ObjStm
    container — the modern-writer dialect where a classic object scan
    sees only the container (kernels/pdf_md._expand_object_streams)."""
    words = words_line([f"ObjStm{i}", "doc"], y=720, size=20)
    for y in (680, 660):
        words += words_line([r.choice(_WORDS) for _ in range(5)], y=y,
                            size=12)
    return build_pdf([{"words": words}], compress=True, objstm=True)


_CJK_ALPHABET = "数据表查询流分组合并批处理文档页面索引"


def _pdf_cid(i: int, r: random.Random) -> bytes:
    """CID/Type0 (Identity-H) PDF: CJK-style text shown as 2-byte hex
    CID strings, decoded through a /ToUnicode CMap with a /W width
    table — the structure most non-Latin web PDFs carry (reference
    reads these via pdfplumber's CMap support, static_parser.py:700-727;
    here kernels/pdf_md._parse_tounicode + the Type0 emit path)."""
    k = 3 + i % 3
    words = []
    for j in range(k):
        txt = "".join(
            _CJK_ALPHABET[(i + j * 3 + t) % len(_CJK_ALPHABET)]
            for t in range(2 + (i + j) % 2)
        )
        words.append({"text": txt, "x": 72.0 + 100.0 * j, "y": 700.0,
                      "size": 12.0, "font": "C1"})
    # a latin line below keeps the body-font-size mode deterministic
    words += words_line([f"cid{i}", "doc"], y=660, size=12.0)
    return build_pdf([{"words": words}], compress=True)


def _pdf_xrefstm(i: int, r: random.Random) -> bytes:
    """PDF 1.5 xref-STREAM layout (predictor-12 Up-filtered index,
    type-2 ObjStm entries, indirect /Length on every content stream)
    AND a literal string spanning a raw newline onto an 'endstream'
    line in the UNCOMPRESSED content bytes — with /Length indirect the
    sequential scan's endstream-search truncates the stream at the
    embedded marker; only the xref index bounds such files correctly
    (pinned by test_pdf_xref.py)."""
    words = words_line([f"Xref{i}", "doc"], y=720, size=20)
    # PDF literal strings may contain raw newlines: this one puts the
    # byte sequences b"\nendstream" AND b"endobj" INSIDE the stream
    # body, so a sequential scan truncates the object mid-string
    words += [{"text": "trap\nendstream endobj marker", "x": 72.0,
               "y": 700.0, "size": 12.0, "font": "F1"}]
    words += words_line([r.choice(_WORDS) for _ in range(5)], y=680,
                        size=12)
    return build_pdf([{"words": words}], objstm=True,
                     xrefstream=True, indirect_length=True)


def _pdf_compact(i: int, r: random.Random) -> bytes:
    """Compressed compact-dialect PDF: ONE multi-op BT block, Tm line
    positioning, array-form TJ with kerning numbers — exercises the
    general content-stream interpreter end-to-end."""
    words = words_line([f"Compact{i}", "title"], y=720, size=18)
    for y in (680, 660, 640):
        words += words_line([r.choice(_WORDS) for _ in range(6)], y=y, size=12)
    return build_pdf([{"words": words, "style": "compact"}], compress=True)


def _csv_table(i: int, r: random.Random) -> bytes:
    lines = ["name,qty,price"]
    for j in range(3 + i % 4):
        lines.append(f"item{j},{(i + j) % 50},{(i * j) % 100}")
    return ("\n".join(lines) + "\n").encode()


def _txt_plain(i: int, r: random.Random) -> bytes:
    return (
        f"plain text document {i}\n{_sentence(r, 30)}\n\n{_sentence(r, 20)}\n"
    ).encode()


def _zip_bytes(entries: dict[str, str]) -> bytes:
    """Deterministic zip: fixed timestamps (zipfile would stamp now())."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(entries):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, entries[name])
    return buf.getvalue()


_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _docx_doc(i: int, r: random.Random) -> bytes:
    paras = [f"docx document {i}"] + [_sentence(r, 12) for _ in range(3)]
    body = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{p}</w:t></w:r></w:p>'
        for p in paras
    )
    return _zip_bytes({
        "[Content_Types].xml":
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types"><Override PartName='
            '"/word/document.xml" ContentType="application/vnd.openxml'
            'formats-officedocument.wordprocessingml.document.main+xml"/>'
            "</Types>",
        "word/document.xml":
            f'<?xml version="1.0"?><w:document xmlns:w="{_W}">'
            f"<w:body>{body}</w:body></w:document>",
    })


def _xlsx_sheet(i: int, r: random.Random) -> bytes:
    strings = ["name", "qty"] + [f"thing{j}" for j in range(3)]
    rows_xml = [
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c></row>'
    ]
    for j in range(3):
        rows_xml.append(
            f'<row r="{j + 2}"><c r="A{j + 2}" t="s"><v>{j + 2}</v></c>'
            f'<c r="B{j + 2}"><v>{(i + j) % 40}</v></c></row>'
        )
    sst = "".join(f"<si><t>{s}</t></si>" for s in strings)
    return _zip_bytes({
        "[Content_Types].xml":
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types"/>',
        "xl/sharedStrings.xml":
            f'<?xml version="1.0"?><sst xmlns="{_S}">{sst}</sst>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0"?><worksheet xmlns="{_S}">'
            f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>',
    })


def _pptx_deck(i: int, r: random.Random) -> bytes:
    """PPTX deck (S9): title placeholder + body paragraphs per slide."""
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"

    def slide(title: str, paras: list[str]) -> str:
        body = "".join(
            f"<p:sp><p:txBody><a:p><a:r><a:t>{t}</a:t></a:r></a:p>"
            "</p:txBody></p:sp>"
            for t in paras
        )
        return (
            f'<?xml version="1.0"?><p:sld xmlns:p="{p}" xmlns:a="{a}">'
            "<p:cSld><p:spTree>"
            "<p:sp><p:nvSpPr><p:nvPr><p:ph type=\"title\"/></p:nvPr>"
            f"</p:nvSpPr><p:txBody><a:p><a:r><a:t>{title}</a:t></a:r>"
            f"</a:p></p:txBody></p:sp>{body}"
            "</p:spTree></p:cSld></p:sld>"
        )

    n_slides = 2 + i % 2
    entries = {
        "[Content_Types].xml":
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types"/>',
    }
    for s in range(1, n_slides + 1):
        entries[f"ppt/slides/slide{s}.xml"] = slide(
            f"Slide {s} of deck {i}",
            [_sentence(r, 8), _sentence(r, 6)],
        )
    return _zip_bytes(entries)


def _img_scan(i: int, r: random.Random) -> bytes:
    """Standalone image document (FAKE container) → OCR arm (P5)."""
    from lexoid_spark.functions.multimodal import encode_fake_image

    return encode_fake_image(640 + (i % 5) * 8, 480 + (i % 3) * 16, 3)


def _img_scan_glyph(i: int, r: random.Random) -> bytes:
    """Real-raster scanned page: glyph-font text rendered to pixels and
    encoded through one of the three REAL from-scratch codecs (PNG /
    GIF / baseline JPEG, rotating by doc index) → the OCR arm decodes
    actual pixels and template-recognizes the exact text back
    (``kernels/ocr_glyph.py``; reference parse_with_paddleocr,
    static_parser.py:751-818)."""
    import numpy as np

    from lexoid_spark.kernels.ocr_glyph import render_text

    text = f"SCAN DOC {i}\nROW {i % 7} OK"
    # i % k would alias with the class stride — rotate the codec off
    # the per-doc RNG instead (deterministic: seeded from i)
    variant = r.randrange(3)
    # JPEG is lossy: scale 4 keeps glyph blocks unambiguous post-DCT
    arr = render_text(text, scale=4 if variant == 2 else 2)
    if variant == 0:
        from lexoid_spark.kernels.png_codec import png_encode

        return png_encode(arr[:, :, None])
    if variant == 1:
        from lexoid_spark.kernels.gif_codec import gif_encode

        return gif_encode(np.repeat(arr[:, :, None], 3, axis=2))
    from lexoid_spark.kernels.jpeg_codec import jpeg_encode

    return jpeg_encode(arr[:, :, None], quality=95)


def _pdf_scanned(i: int, r: random.Random) -> bytes:
    """Image-bearing PDF (embedded FAKE /Subtype /Image XObjects, no
    text) → routes to the OCR arm like the reference's bbox_router."""
    n_imgs = 1 + i % 2
    images = [(320 + 8 * j + i % 4, 240 + 4 * j, 3) for j in range(n_imgs)]
    return build_pdf([{"images": images}])


def _pdf_scanned_jpeg(i: int, r: random.Random) -> bytes:
    """Scanner-output PDF: a REAL JPEG scan embedded verbatim under
    /Filter /DCTDecode — the most common wild scanned-document shape.
    The whole from-scratch chain runs end to end: build → object scan →
    DCT passthrough → baseline JPEG huffman+IDCT decode → glyph OCR
    recognizes the exact rendered text (reference route: image-bearing
    PDF → parse_with_paddleocr, utils.py:591-612 +
    static_parser.py:751-818)."""
    from lexoid_spark.kernels.jpeg_codec import jpeg_encode
    from lexoid_spark.kernels.ocr_glyph import render_text

    text = f"JPEG SCAN {i}\nBAND {i % 5} OK"
    # scale 4: JPEG is lossy — keep glyph blocks unambiguous post-DCT
    arr = render_text(text, scale=4)
    return build_pdf([{"raster_images": [jpeg_encode(arr[:, :, None],
                                                     quality=95)]}])


def _pdf_scanned_flate(i: int, r: random.Random) -> bytes:
    """Lossless scanner-output PDF: raw 8-bit /DeviceGray glyph-text
    samples under /Filter /FlateDecode, PNG-predicted on odd docs —
    the Flate-raster counterpart of the DCTDecode class."""
    from lexoid_spark.kernels.ocr_glyph import render_text

    arr = render_text(f"FLATE SCAN {i}\nROW {i % 4} OK", scale=2)
    return build_pdf([{"raster_images": [
        {"gray": arr, "predictor": 15 if i % 2 else 1}]}])


def _pdf_scanned_g4(i: int, r: random.Random) -> bytes:
    """B/W fax scan PDF: glyph-text bitmap under /CCITTFaxDecode
    /K -1 (ITU-T T.6 Group 4) — the dominant compression for archival
    document scans."""
    from lexoid_spark.kernels.ocr_glyph import render_text

    arr = render_text(f"G4 FAX {i}\nROW {i % 6} OK", scale=2)
    return build_pdf([{"raster_images": [{"gray": arr, "codec": "g4"}]}])


_BUILDERS = {
    "html_headings": _html_headings,
    "html_lists_links": _html_lists_links,
    "html_table": _html_table,
    "html_boilerplate": _html_boilerplate,
    "html_invalid_bytes": _html_invalid_bytes,
    "html_utf16": _html_utf16,
    "pdf_plain": _pdf_plain,
    "pdf_headings": _pdf_headings,
    "pdf_styles": _pdf_styles,
    "pdf_indent": _pdf_indent,
    "pdf_rules_strike": _pdf_rules_strike,
    "pdf_table": _pdf_table,
    "pdf_links_emails": _pdf_links_emails,
    "pdf_multipage": _pdf_multipage,
    "pdf_flate": _pdf_flate,
    "pdf_compact": _pdf_compact,
    "pdf_objstm": _pdf_objstm,
    "csv_table": _csv_table,
    "txt_plain": _txt_plain,
    "docx_doc": _docx_doc,
    "xlsx_sheet": _xlsx_sheet,
    "pptx_deck": _pptx_deck,
    "img_scan": _img_scan,
    "img_scan_glyph": _img_scan_glyph,
    "pdf_scanned": _pdf_scanned,
    "pdf_scanned_jpeg": _pdf_scanned_jpeg,
    "pdf_scanned_flate": _pdf_scanned_flate,
    "pdf_scanned_g4": _pdf_scanned_g4,
    "pdf_cid": _pdf_cid,
    "pdf_xrefstm": _pdf_xrefstm,
}


def make_test_epub(chapters) -> bytes:
    """Deterministic EPUB from ``[(title, body), ...]`` chapters:
    mimetype + container.xml + OPF manifest/spine + one XHTML file
    per chapter (fixtures/corpus only — the read side is
    ``office_md.epub_to_md``). Titles/bodies must be HTML-safe (no
    unescaped ``<``/``&``), matching the synthetic corpus."""
    items = "".join(
        f'<item id="c{k}" href="ch{k}.xhtml" '
        f'media-type="application/xhtml+xml"/>'
        for k in range(len(chapters)))
    refs = "".join(f'<itemref idref="c{k}"/>'
                   for k in range(len(chapters)))
    entries = {
        "mimetype": "application/epub+zip",
        "META-INF/container.xml":
            '<?xml version="1.0"?><container version="1.0" '
            'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles>'
            "</container>",
        "OEBPS/content.opf":
            '<?xml version="1.0"?><package version="3.0" '
            'xmlns="http://www.idpf.org/2007/opf" unique-identifier="u">'
            f"<manifest>{items}</manifest><spine>{refs}</spine></package>",
    }
    for k, (title, body) in enumerate(chapters):
        entries[f"OEBPS/ch{k}.xhtml"] = (
            '<?xml version="1.0" encoding="utf-8"?>'
            "<html><body>"
            f"<h1>{title}</h1><p>{body}</p>"
            "</body></html>")
    return _zip_bytes(entries)


def gen_page_row(i: int, p_giant: float = 0.0) -> Tuple[str, dt.datetime, bytes, str, str]:
    """One deterministic pages row for doc index i."""
    r = _rng(i)
    if p_giant > 0 and (i % max(1, int(1 / p_giant))) == 7:
        cls = "html_giant"
        payload = _html_giant(i, r)
    else:
        cls = ALL_CLASSES[i % len(ALL_CLASSES)]
        payload = _BUILDERS[cls](i, r)
    url = f"https://fixtures.test/{cls}/{i:06d}"
    ts = EPOCH + dt.timedelta(seconds=i * 37)
    text = _sentence(_rng(i * 2 + 1), 24)
    lang = LANGS[i % len(LANGS)]
    return (url, ts, payload, text, lang)


def gen_pages(n_docs: int, p_giant: float = 0.0) -> List[Tuple]:
    return [gen_page_row(i, p_giant) for i in range(n_docs)]


PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_df(spark, n_docs: int, p_giant: float = 0.0):
    return spark.createDataFrame(gen_pages(n_docs, p_giant), PAGES_SCHEMA_DDL)


def pages_df_dist(spark, n_docs: int, p_giant: float = 0.0,
                  num_partitions: int | None = None):
    """Distributed corpus generation: gen_page_row is a pure function of
    the doc index, so executors build their own ranges — no driver-side
    list, no parallelize of blobs (400k+ docs materialize in seconds)."""
    import pandas as pd

    if num_partitions is None:
        num_partitions = max(
            32, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )

    def build(batches):
        for b in batches:
            rows = [gen_page_row(int(i), p_giant) for i in b["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng = spark.range(0, n_docs, numPartitions=num_partitions)
    return rng.mapInPandas(build, PAGES_SCHEMA_DDL)


# --- driver-side golden computation (kernel reference output) ---------------

def golden_raw_for_row(url: str, payload: bytes) -> str:
    """Expected markdown for a pages row, computed kernel-side.

    Delegates to the SAME single-document dispatch the Spark kernel
    wraps (``functions.udfs._extract_one``) — the golden check pins the
    distributed plumbing (Arrow transport, giant-tail split, quarantine
    split), not the kernels, which have their own unit tests."""
    from lexoid_spark.functions.udfs import _extract_one
    from lexoid_spark.kernels.pdf_md import sniff_doctype

    raw, _segs, _parser = _extract_one(sniff_doctype(payload), payload)
    return raw


def golden_rows(n_docs: int, p_giant: float = 0.0) -> List[Dict]:
    out = []
    for i in range(n_docs):
        url, ts, payload, text, lang = gen_page_row(i, p_giant)
        out.append({"url": url, "golden_raw": golden_raw_for_row(url, payload)})
    return out
