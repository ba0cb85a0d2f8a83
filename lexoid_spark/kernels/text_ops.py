"""Pure-Python scalar text operators (mirrors of the native column forms).

Each function here has a 1:1 native-Spark column expression in
``lexoid_spark.functions.columns`` (regexp_replace / regexp_extract_all —
JVM-side, codegen'd). These pure forms exist so kernels can reuse them
in-batch and so unit tests pin the exact semantics.

Reference parity:
- ``embed_email_links``  — ``static_parser.py:248-256``
- ``strip_markdown``     — ``utils.py:632-642`` (HTML-tag step simplified:
  we strip inline tags directly rather than round-tripping through a
  markdown→HTML renderer, which the sandbox lacks)
- ``clean_text``         — ``tests/benchmark_utils.py:18-28``
"""

from __future__ import annotations

import codecs
import re

# UTF-32 BOMs first: BOM_UTF32_LE starts with the UTF-16 LE BOM bytes
_BOMS = (
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)


def decode_payload(payload) -> str:
    """BOM-aware text decode: honor a UTF-8/16/32 byte-order mark
    (stripped from the result), else UTF-8 with ``errors="ignore"``
    (the reference's invalid-byte tolerance,
    ``static_parser.py:90-92``). Wild web pages are routinely UTF-16
    with BOM; decoding them as UTF-8-ignore would shred every other
    byte."""
    if payload is None:
        return ""
    b = bytes(payload)
    for bom, enc in _BOMS:
        if b.startswith(bom):
            return b[len(bom):].decode(enc, errors="ignore")
    return b.decode("utf-8", errors="ignore")


class CharsetError(ValueError):
    """HTML declares a charset this engine cannot decode (→ the
    document quarantines rather than parsing to mojibake)."""


# WHATWG windows-1252 decoder: 0x80-0x9F per the published mapping
# (the five holes 81/8D/8F/90/9D pass through as C1 controls, per
# the WHATWG Encoding Standard), everything else latin-1 identity.
# This decoder is TOTAL — it never fails — which is why it is the
# web-standard fallback for undeclared non-UTF-8 pages.
_CP1252_HIGH = str.maketrans({
    "\x80": "€", "\x82": "‚", "\x83": "ƒ",
    "\x84": "„", "\x85": "…", "\x86": "†",
    "\x87": "‡", "\x88": "ˆ", "\x89": "‰",
    "\x8a": "Š", "\x8b": "‹", "\x8c": "Œ",
    "\x8e": "Ž", "\x91": "‘", "\x92": "’",
    "\x93": "“", "\x94": "”", "\x95": "•",
    "\x96": "–", "\x97": "—", "\x98": "˜",
    "\x99": "™", "\x9a": "š", "\x9b": "›",
    "\x9c": "œ", "\x9e": "ž", "\x9f": "Ÿ",
})


def _decode_windows_1252(b: bytes) -> str:
    return b.decode("latin-1").translate(_CP1252_HIGH)


# declared-charset labels this engine decodes, per the WHATWG label
# table: every latin-1-family label maps to the windows-1252 decoder
# (the Encoding Standard aliases iso-8859-1 to windows-1252 because
# that is what wild pages actually mean)
_CHARSET_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252", "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252", "iso_8859-1": "windows-1252",
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "l1": "windows-1252", "cp819": "windows-1252",
    "ibm819": "windows-1252", "iso-ir-100": "windows-1252",
    "ascii": "windows-1252", "us-ascii": "windows-1252",
    # WHATWG: a meta-declared utf-16 is treated as utf-8 (were the
    # page really UTF-16, the ASCII prescan could not have read the
    # meta tag in the first place)
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}

# ASCII prescan for a declared charset in the head: catches both
# <meta charset=...> and <meta http-equiv="Content-Type"
# content="text/html; charset=..."> (the charset= substring)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([a-zA-Z0-9._:-]+)",
    re.IGNORECASE | re.DOTALL,
)


def sniff_decode_html(payload) -> str:
    """WHATWG-style HTML byte decode (the reference reaches the same
    behavior class through BeautifulSoup's UnicodeDammit + its
    iso-8859-1 retry, ``utils.py:356-363``):

    1. a UTF-8/16/32 BOM wins outright (stripped from the result);
    2. else a charset declared by ``<meta>`` within the first 1024
       bytes (the WHATWG prescan window) is honored when it is a
       label this engine decodes — any OTHER declared label (CJK
       codecs etc.) raises :class:`CharsetError` so the document
       QUARANTINES instead of silently shredding to mojibake;
    3. else strict UTF-8;
    4. else the total windows-1252 decoder — the web-standard
       fallback, under which every byte maps to SOME character
       (unlike the old ``errors="ignore"``, which silently DROPPED
       bytes).
    """
    if payload is None:
        return ""
    b = bytes(payload)
    for bom, enc in _BOMS:
        if b.startswith(bom):
            return b[len(bom):].decode(enc, errors="ignore")
    m = _META_CHARSET_RE.search(b[:1024])
    if m:
        label = m.group(1).decode("ascii").lower()
        enc = _CHARSET_LABELS.get(label)
        if enc is None:
            raise CharsetError(f"declared charset {label!r} is unsupported")
        if enc == "windows-1252":
            return _decode_windows_1252(b)
        return b.decode("utf-8", errors="ignore")
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return _decode_windows_1252(b)

EMAIL_PATTERN = re.compile(
    r"(?<![<\[])(\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b)(?![>\]])"
)

HTML_TAG_PATTERN = re.compile(r"<.*?>|&([a-z0-9]+|#[0-9]{1,6}|#x[0-9a-f]{1,6});")


def embed_email_links(text: str) -> str:
    """Wrap bare email addresses in angle brackets: a@b.com → <a@b.com>."""
    return EMAIL_PATTERN.sub(lambda m: f"<{m.group(1)}>", text)


def strip_markdown(text: str) -> str:
    """Drop md formatting chars, unwrap links, strip inline HTML tags."""
    text = re.sub(r"[*_`~]", "", text)
    text = re.sub(r"\[([^\]]+)\]\([^)]+\)", r"\1", text)
    text = HTML_TAG_PATTERN.sub(" ", text)
    return text


def clean_text(txt: str) -> str:
    """Benchmark-metric normalizer: LaTeX cmds → ws → non-alnum → strip."""
    txt = re.sub(r"\\[a-zA-Z]+(\[[^\]]*\])?(\{[^}]*\})?", " ", txt)
    txt = re.sub(r"\s+", " ", txt)
    txt = re.sub(r"[^a-zA-Z0-9 ]", " ", txt)
    return txt.strip()


# cleanup chain applied to every PDF page's markdown
# (static_parser.py:662-668; ORDER-SENSITIVE)
def cleanup_redundant_formatting(content: str) -> str:
    return (
        content.replace("** **", " ")
        .replace("* *", " ")
        .replace("` `", " ")
        .replace("\n```\n\n```", "")
    )
