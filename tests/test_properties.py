"""Property-based tests (hypothesis) — the reference has none
(SURVEY.md §5.1); these pin kernel robustness invariants that matter at
10^12 arbitrary web documents: total functions over arbitrary bytes,
deterministic output, segmentation that loses no content."""

import re
import string

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from lexoid_spark.kernels.html_md import _join_blocks, html_to_md
from lexoid_spark.kernels.pdf_md import sniff_doctype
from lexoid_spark.kernels.segmenter import find_dominant_heading_level, segment_md
from lexoid_spark.kernels.table_md import csv_to_md


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_sniff_total_and_closed(payload):
    assert sniff_doctype(payload) in {"pdf", "zip", "image", "html", "csv", "txt"}


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_html_kernel_total_on_arbitrary_bytes(payload):
    """Any byte soup converts deterministically (web-scale inputs
    include truncated/mangled HTML); the ONE typed escape is
    CharsetError for a declared-but-unsupported charset — the
    quarantine contract shared with the raster kernels — which must
    itself be deterministic."""
    from lexoid_spark.kernels.text_ops import CharsetError

    try:
        a = html_to_md(payload)
    except CharsetError:
        with pytest.raises(CharsetError):
            html_to_md(payload)
        return
    b = html_to_md(payload)
    assert isinstance(a, str) and a == b


_texty = st.text(
    alphabet=string.ascii_letters + string.digits + " .,\n#-*",
    max_size=500,
)


@settings(max_examples=100, deadline=None)
@given(_texty)
def test_segmenter_loses_no_heading_content(md):
    """Every segment's content appears in the input; total function."""
    segs = segment_md(md)
    assert isinstance(segs, list)
    for _section, content in segs:
        assert content in md or content.strip() in md or content == ""


_newline_heavy = st.text(alphabet="\n\n\na b", max_size=12)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_newline_heavy, st.booleans()), max_size=12))
def test_join_blocks_matches_naive_fold(pieces):
    """The emitter's one-pass join equals the string fold it replaced:
    text appends; a block merges newline runs as max(left, right)."""
    expected = ""
    for text, is_block in pieces:
        if is_block:
            left = expected.rstrip("\n")
            right = text.lstrip("\n")
            n = max(len(expected) - len(left), len(text) - len(right))
            expected = left + "\n" * n + right
        else:
            expected += text
    assert _join_blocks(pieces) == expected


def _dominant_level_spec(md):
    """The six-regex rule: underline if repeated, else the shortest
    hash prefix whose ``^{prefix} .*$`` lines occur more than once."""
    if len(re.findall(r"^[^\n]+\n-+$", md, re.MULTILINE)) > 1:
        return "underline"
    counts = {}
    for prefix in ("#####", "####", "###", "##", "#"):
        matches = re.findall(rf"^{prefix} .*$", md, re.MULTILINE)
        if len(matches) > 1:
            counts[prefix] = len(matches)
    return min(counts, key=len) if counts else "#"


_heading_line = st.builds(
    lambda hashes, sep, rest: "#" * hashes + sep + rest,
    st.integers(0, 7),
    st.sampled_from(["", " ", "  ", "\t"]),
    st.text(alphabet="#- a\r", max_size=6),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_heading_line, max_size=10))
def test_dominant_heading_level_matches_spec(lines):
    md = "\n".join(lines)
    assert find_dominant_heading_level(md) == _dominant_level_spec(md)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=1024))
def test_csv_kernel_total(payload):
    out = csv_to_md(payload)
    assert isinstance(out, str)


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=string.printable, max_size=300))
def test_shingle_determinism_and_shape(text):
    """Column-free twin of the shingle invariant: token trigrams are
    space-joined 3-grams of the whitespace tokens (what the Spark
    expression computes); checked in plain python to bound the spec."""
    toks = text.split()
    if len(toks) >= 3:
        expected = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        assert len(expected) >= 1


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            min_size=1, max_size=12,
        ).map(lambda s: s.replace(" ", "") or "w").filter(bool),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_pdf_string_escape_roundtrip(words):
    """Words with parens/backslashes survive the writer's _esc and the
    interpreter's _unesc through a full compressed compact PDF."""
    from lexoid_spark.corpus.pdf_gen import build_pdf
    from lexoid_spark.kernels.pdf_md import parse_pdf

    specs = [
        {"text": w, "x": 72.0 + 60.0 * j, "y": 700.0,
         "size": 12.0, "font": "F1"}
        for j, w in enumerate(words)
    ]
    pdf = build_pdf([{"words": specs, "style": "compact"}], compress=True)
    got = [w["text"] for w in parse_pdf(pdf)[0].words]
    assert got == words


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_content_lexer_total(data):
    """The content-stream lexer/interpreter must be total over
    arbitrary bytes — a malformed stream yields (possibly empty)
    words, never an exception (wild-PDF robustness)."""
    from lexoid_spark.kernels.pdf_md import PdfPage, _interpret_content

    page = PdfPage(612.0, 792.0)
    _interpret_content(data, 792.0, {"F1": "Helvetica"}, page)
    for w in page.words:
        assert isinstance(w["text"], str)


# --- curation invariants (pure-python mirrors of the regex chains) ---------

import re as _re

from lexoid_spark.kernels.text_ops import decode_payload


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=1024))
def test_decode_payload_total_and_idempotent_cleanliness(payload):
    """decode_payload is total over arbitrary bytes and its output
    re-encodes to UTF-8 losslessly (no surrogates / undecodables)."""
    s = decode_payload(payload)
    assert isinstance(s, str)
    s.encode("utf-8")  # must not raise


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=string.printable, max_size=400))
def test_pii_redact_idempotent(text):
    """Applying the PII regex chain twice equals applying it once —
    placeholders must never themselves match a PII pattern."""
    from lexoid_spark.functions.curation import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    def scrub(t):
        t = _re.sub(PII_EMAIL, "<EMAIL>", t)
        t = _re.sub(PII_IPV4, "<IP>", t)
        t = _re.sub(PII_PHONE, "<PHONE>", t)
        return t

    once = scrub(text)
    assert scrub(once) == once


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_rtf_total_and_deterministic(payload):
    """rtf_to_text is total over arbitrary bytes (with and without the
    magic prefix), deterministic, and never leaks a lone surrogate."""
    from lexoid_spark.kernels.rtf import rtf_to_text

    for b in (payload, b"{\\rtf1" + payload):
        a = rtf_to_text(b)
        assert a == rtf_to_text(b)
        a.encode("utf-8")  # must never raise


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=256))
def test_webp_header_total(payload):
    """webp_header returns None or a sane (w, h, c) triple — never an
    exception — for arbitrary RIFF/WEBP-framed bytes."""
    from lexoid_spark.kernels.webp_meta import webp_header

    framed = b"RIFF" + len(payload).to_bytes(4, "little") + b"WEBP" + payload
    for b in (payload, framed):
        out = webp_header(b)
        assert out is None or (
            len(out) == 3 and all(isinstance(x, int) for x in out))


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_mp3_header_total(payload):
    """mp3_header is total over arbitrary bytes: None or a consistent
    (rate, frames, samples) triple with samples a multiple of the
    per-frame count."""
    from lexoid_spark.kernels.mp3_meta import mp3_header

    out = mp3_header(payload)
    if out is not None:
        rate, n, samples = out
        assert n >= 1 and samples % n == 0 and rate > 0


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 4095), st.integers(0, 255))
def test_avi_mutation_always_typed(pos, val):
    """Byte mutations of a valid MJPEG AVI either decode or raise the
    typed errors — never an unhandled crash."""
    import numpy as np

    from lexoid_spark.kernels.avi import AviError, make_test_avi_mjpeg, \
        avi_mjpeg_frames
    from lexoid_spark.kernels.jpeg_codec import JpegError

    base = bytearray(make_test_avi_mjpeg(
        np.full((1, 16, 16), 99, np.uint8)))
    base[pos % len(base)] = val
    try:
        avi_mjpeg_frames(bytes(base))
    except (AviError, JpegError):
        pass


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 1 << 16), st.integers(0, 255))
def test_mp4_mutation_always_typed(pos, val):
    """Byte mutations of MJPEG and avc1 MP4s either decode or raise
    the typed errors the video arm skips on."""
    import numpy as np

    from lexoid_spark.kernels.h264 import H264Error
    from lexoid_spark.kernels.jpeg_codec import JpegError
    from lexoid_spark.kernels.mp4_avc import (
        Mp4Error, make_test_mp4_h264, make_test_mp4_mjpeg,
        mp4_video_frames)

    frames = np.full((1, 16, 16), 80, np.uint8)
    for mk in (make_test_mp4_mjpeg, make_test_mp4_h264):
        b = bytearray(mk(frames))
        b[pos % len(b)] = val
        try:
            mp4_video_frames(bytes(b))
        except (Mp4Error, JpegError, H264Error):
            pass


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 1 << 14), st.integers(0, 255))
def test_epub_mutation_always_typed(pos, val):
    """Byte mutations of an EPUB either convert or raise the exception
    classes the zip dispatch arm quarantines (ValueError family,
    zipfile/XML errors) — never a hang or wrong type."""
    import xml.etree.ElementTree as ET
    import zipfile

    from lexoid_spark.corpus.gen import make_test_epub
    from lexoid_spark.kernels.office_md import epub_to_md

    b = bytearray(make_test_epub([("T", "body text")]))
    b[pos % len(b)] = val
    try:
        out = epub_to_md(bytes(b))
        assert isinstance(out, str)
    except (ValueError, KeyError, zipfile.BadZipFile, ET.ParseError,
            NotImplementedError, OSError, EOFError):
        pass


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 1 << 14), st.integers(0, 255))
def test_tiff_flac_mutation_always_typed(pos, val):
    """Byte mutations of TIFF scans and FLAC streams stay inside the
    kernels' typed error contracts."""
    import numpy as np

    from lexoid_spark.kernels.flac import FlacError, flac_decode, \
        make_test_flac
    from lexoid_spark.kernels.tiff_codec import TiffError, tiff_decode, \
        tiff_encode_gray

    t = bytearray(tiff_encode_gray(
        np.full((16, 16), 130, np.uint8), compression="lzw"))
    t[pos % len(t)] = val
    try:
        tiff_decode(bytes(t))
    except TiffError:
        pass
    f = bytearray(make_test_flac(0, n_samples=256))
    f[pos % len(f)] = val
    try:
        flac_decode(bytes(f))
    except FlacError:
        pass
