"""PDF → markdown kernel: from-scratch tokenizer + layout state machine.

A brand-new implementation of the *semantics* of the reference's
pdfplumber path (``lexoid/core/parse_type/static_parser.py:259-727``),
operating on raw PDF bytes (the ``html:binary`` column).

Supported PDF surface (a superset of what ``corpus/pdf_gen.py`` emits):
classic xref, FlateDecode-compressed OR raw content streams (stdlib
``zlib``), multi-stream ``/Contents`` arrays, general text objects —
multi-op ``BT..ET`` blocks with ``Tf``/``Td``/``TD``/``Tm``/``TL``/
``T*``/``'``, both ``Tj`` and array-form ``TJ`` (kerning numbers
applied as x-advances), literal and hex strings with the standard
escape set — per-page ``/Resources /Font`` → ``/BaseFont`` resolution,
and stroked path/rect graphics (``m``/``l``/``re``/``S``) for rules
and table ruling, plus PDF 1.5 compressed object streams
(``/Type /ObjStm`` containers are Flate-decoded and their embedded
dict objects inlined — the modern-writer dialect a classic object
scan alone never sees). Out of scope (documented): cross-reference
streams as a lookup structure (objects are found by direct scan, so
``/Type /XRef`` entries are ignored rather than followed), CID/Type0
encodings, embedded font width tables (a deterministic per-font width
model stands in), and rotated text matrices (``Tm`` is honored for
translation).

Reproduced behaviors (reference file:line):
- word boxes ``{text, x0, x1, top, bottom, size, fontname}``
  (``static_parser.py:374-378``);
- body-font-size mode and base-left-margin mode (``:380-399``);
- strikethrough: first word overlapping each horizontal line → ``~~w~~``
  (``:401-416``);
- bold/heavy/black → ``**``, italic/oblique → ``*``, mono → `` ` ``,
  all-mono paragraph → fenced code block (``:418-500``);
- heading levels by size ratio ≥2/≥1.4/≥1.2 → h1/h2/h3 (``:502-519``);
- indentation ``&nbsp;``×3·level, level = (x0-base)//25+1 beyond 5pt
  (``:240-245``, ``:471-474``);
- horizontal rules ``\\n---\\n\\n`` interleaved after preceding text
  (``:580-590``);
- ruled tables → pipe markdown, zone exclusion, reading-order interleave
  by bottom (``:297-372``, ``:536-563``);
- URI-rect scrape from raw bytes (``utils.py:615-624``) + inline link
  embedding (``:178-237``), email ``<...>`` wrap (``:248-256``);
- redundant-format cleanup chain (``:662-668``);
- pages joined ``"\\n\\n"`` (``:721``), per-page segments keyed by
  ``start + page_number`` (``:711-718``).
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, Optional, Tuple

from lexoid_spark.kernels.table_md import clean_table_grid
from lexoid_spark.kernels.text_ops import (
    cleanup_redundant_formatting,
    embed_email_links,
)

# width model shared with corpus/pdf_gen.py
_CHAR_W = {"Courier": 0.6}
_DEFAULT_CHAR_W = 0.5

_URI_RECT_SPLIT = "/Rect ["
_URI_PATTERN = re.compile(r"\((https?://[^\s)]+)\)")

_STD_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unesc(b: bytes) -> str:
    """PDF literal-string unescape: the standard escape set plus
    3-digit octal codes and escaped-newline line continuation."""
    if b"\\" not in b:  # overwhelmingly common fast path
        return b.decode("latin-1")
    out = bytearray()
    i, n = 0, len(b)
    while i < n:
        c = b[i:i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = b[i + 1:i + 2]
        if nxt in _STD_ESCAPES:
            out += _STD_ESCAPES[nxt]
            i += 2
        elif nxt.isdigit():
            j = i + 1
            while j < min(i + 4, n) and b[j:j + 1].isdigit():
                j += 1
            out.append(int(b[i + 1:j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
            if nxt == b"\r" and b[i:i + 1] == b"\n":
                i += 1
        else:
            out += nxt
            i += 2
    return out.decode("latin-1")


class PdfPage:
    __slots__ = ("width", "height", "words", "lines", "rects", "annots")

    def __init__(self, width, height):
        self.width = width
        self.height = height
        self.words: List[Dict] = []
        self.lines: List[Dict] = []
        self.rects: List[Tuple[float, float, float, float]] = []  # x0,top,x1,bottom
        self.annots: List[Dict] = []


_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+0\s+obj")
#  (?!\d) pins the FULL number (backtracking would otherwise let
#  '/Length 999 0 R' match as 99); (?!\s+\d+\s+R) rejects indirect
#  refs of ANY generation, not just 0
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _parse_objects(data: bytes) -> Dict[int, bytes]:
    """Sequential object scan, stream-body aware.

    A naive ``N 0 obj (.*?) endobj`` regex truncates objects whose
    Flate-compressed stream bytes happen to contain ``endobj``; this
    scanner skips stream bodies using the direct ``/Length`` entry
    (falling back to an ``endstream`` search for indirect lengths).
    """
    objs: Dict[int, bytes] = {}
    pos = 0
    n = len(data)
    while pos < n:
        m = _OBJ_HEAD_RE.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        start = m.end()
        s_idx = data.find(b"stream", start)
        e_idx = data.find(b"endobj", start)
        if s_idx != -1 and (e_idx == -1 or s_idx < e_idx):
            lm = _LENGTH_RE.search(data, start, s_idx)
            body = s_idx + len(b"stream")
            if data[body:body + 2] == b"\r\n":
                body += 2
            elif data[body:body + 1] == b"\n":
                body += 1
            if lm:
                body_end = body + int(lm.group(1))
            else:
                body_end = data.find(b"endstream", body)
                if body_end == -1:
                    body_end = body
            e_idx = data.find(b"endobj", body_end)
        if e_idx == -1:
            objs[num] = data[start:]
            break
        objs[num] = data[start:e_idx]
        pos = e_idx + len(b"endobj")
    return objs


_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)

_FILTER_NAMES_RE = re.compile(
    rb"/(FlateDecode|LZWDecode|ASCIIHexDecode|ASCII85Decode|"
    rb"RunLengthDecode)"
)


def _lzw_decode_pdf(data: bytes) -> bytes:
    """PDF LZWDecode (ISO 32000-1 §7.4.4): MSB-first packing, 9→12-bit
    codes, 256=clear / 257=EOD, EarlyChange=1 (the spec default — the
    code width grows one entry early)."""
    out = bytearray()
    table: dict = {}
    next_code = 258
    width = 9
    prev: bytes | None = None
    bitbuf = nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = {}
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW code")
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
            # the decoder's table lags the encoder's by one entry (no
            # add on the first code after clear), so with EarlyChange=1
            # the width bump fires one entry earlier than the
            # encoder-side next_code >= 2^w - 1 condition
            if next_code >= (1 << width) - 2 and width < 12:
                width += 1
            out += entry
            prev = entry
    return bytes(out)


def _rle_decode_pdf(data: bytes) -> bytes:
    """RunLengthDecode: n<=127 → copy n+1 literals; n>=129 → repeat
    the next byte 257-n times; 128 = EOD."""
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n:
        ln = data[pos]
        pos += 1
        if ln == 128:
            break
        if ln <= 127:
            out += data[pos:pos + ln + 1]
            pos += ln + 1
        else:
            out += data[pos:pos + 1] * (257 - ln)
            pos += 1
    return bytes(out)


def _apply_filters(header: bytes, data: bytes) -> bytes:
    """Apply the /Filter chain in array order (a single name is a
    one-element chain). Unknown filters upstream of the regex simply
    don't match — the caller's behavior for unfiltered streams."""
    import base64

    for name in _FILTER_NAMES_RE.findall(header):
        if name == b"FlateDecode":
            data = zlib.decompress(data)
        elif name == b"LZWDecode":
            data = _lzw_decode_pdf(data)
        elif name == b"ASCIIHexDecode":
            h = data.split(b">")[0]
            h = re.sub(rb"\s+", b"", h)
            if len(h) % 2:
                h += b"0"
            data = bytes.fromhex(h.decode("ascii"))
        elif name == b"ASCII85Decode":
            body = re.sub(rb"\s+", b"", data)
            if body.endswith(b"~>"):
                body = body[:-2]
            data = base64.a85decode(body)
        elif name == b"RunLengthDecode":
            data = _rle_decode_pdf(data)
    return data


def _stream_bytes(obj: bytes) -> bytes:
    """Extract (and FlateDecode if filtered) an object's stream body."""
    s_idx = obj.find(b"stream")
    if s_idx == -1:
        return b""
    header = obj[:s_idx]
    body = s_idx + len(b"stream")
    if obj[body:body + 2] == b"\r\n":
        body += 2
    elif obj[body:body + 1] == b"\n":
        body += 1
    lm = _LENGTH_RE.search(header)
    if lm:
        data = obj[body:body + int(lm.group(1))]
    else:
        # indirect /Length: the object bytes end at ITS endstream, so
        # the LAST marker is the right bound (a first-match search
        # truncates at stream content that embeds b"endstream" — e.g.
        # a literal string spanning a newline onto that word)
        e = obj.rfind(b"endstream")
        data = obj[body:e] if e > body else b""
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith(b"\n"):
            data = data[:-1]
    try:
        data = _apply_filters(header, data)
    except (zlib.error, ValueError):
        return b""
    return data


_INT_RE = re.compile(rb"\s*(\d+)")


def _int_after(obj: bytes, key: bytes) -> Optional[int]:
    tail = _dict_value(obj, key)
    if tail is None:
        return None
    m = _INT_RE.match(tail)
    return int(m.group(1)) if m else None


def _expand_object_streams(objs: Dict[int, bytes]) -> Dict[int, bytes]:
    """Inline PDF 1.5 compressed object streams (``/Type /ObjStm``).

    Modern writers park most dict objects (catalog, pages, page,
    font) inside a Flate-compressed container stream; a classic
    object scan alone never sees them. Layout per spec (ISO 32000
    §7.5.7): the decoded stream opens with ``/N`` pairs of
    ``objnum offset`` integers, and the object bodies start at
    ``/First`` + offset (no ``obj``/``endobj`` wrappers). Embedded
    objects never override directly-scanned ones (a direct
    definition outranks a stale container copy)."""
    out = dict(objs)
    for obj in objs.values():
        s_idx = obj.find(b"stream")
        head = obj[:s_idx] if s_idx != -1 else obj
        if b"/ObjStm" not in head:
            continue
        n = _int_after(obj, b"/N")
        first = _int_after(obj, b"/First")
        if not n or first is None:
            continue
        data = _stream_bytes(obj)
        if len(data) < first:
            continue
        try:
            ints = [int(x) for x in data[:first].split()[:2 * n]]
        except ValueError:
            continue
        pairs = list(zip(ints[0::2], ints[1::2]))
        for i, (onum, off) in enumerate(pairs):
            end = (first + pairs[i + 1][1]
                   if i + 1 < len(pairs) else len(data))
            out.setdefault(onum, data[first + off:end].strip())
    return out


def _object_at(data: bytes, off: int) -> Optional[bytes]:
    """Parse the single object starting at byte ``off`` (header
    stripped, ``endobj`` excluded), stream-body aware like
    :func:`_parse_objects`."""
    m = _OBJ_HEAD_RE.search(data, off, off + 64)
    if not m or m.start() > off + 8:
        return None
    start = m.end()
    s_idx = data.find(b"stream", start)
    e_idx = data.find(b"endobj", start)
    if s_idx != -1 and (e_idx == -1 or s_idx < e_idx):
        lm = _LENGTH_RE.search(data, start, s_idx)
        body = s_idx + len(b"stream")
        if data[body:body + 2] == b"\r\n":
            body += 2
        elif data[body:body + 1] == b"\n":
            body += 1
        if lm:
            body_end = body + int(lm.group(1))
        else:
            body_end = data.find(b"endstream", body)
            if body_end == -1:
                body_end = body
        e_idx = data.find(b"endobj", body_end)
    if e_idx == -1:
        return data[start:]
    return data[start:e_idx]


def _apply_png_predictor(raw: bytes, columns: int) -> bytes:
    """Undo PNG row predictors (/Predictor >= 10) on a decoded xref
    stream: rows of ``columns`` bytes each prefixed by a filter byte,
    bytes-per-pixel 1 (the spec's setup for xref streams)."""
    stride = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r0 in range(0, len(raw) - stride + 1, stride):
        f = raw[r0]
        row = bytearray(raw[r0 + 1:r0 + stride])
        if f == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif f == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(columns):
                a = row[i - 1] if i else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _parse_xref_index(data: bytes) -> Dict[int, tuple]:
    """PDF 1.5 cross-reference STREAMS as the object index
    (ISO 32000 §7.5.8): obj num → ``('d', offset)`` for direct objects
    or ``('c', container, idx)`` for ObjStm members, following /Prev
    chains (newest subsection wins, as incremental update requires).
    Returns {} for classic ``xref`` tables — the sequential scan stays
    the fallback path."""
    pos = data.rfind(b"startxref")
    if pos < 0:
        return {}
    m = _STARTXREF_RE.match(data, pos)
    if not m:
        return {}
    off = int(m.group(1))
    index: Dict[int, tuple] = {}
    seen = set()
    while 0 <= off < len(data) and off not in seen:
        seen.add(off)
        obj = _object_at(data, off)
        if obj is None:
            break
        s_idx = obj.find(b"stream")
        head = obj[:s_idx] if s_idx != -1 else obj
        if b"/XRef" not in head:
            break  # classic table or foreign object
        ws = _numbers_in_brackets(obj, b"/W")
        if len(ws) < 3:
            break
        w1, w2, w3 = (int(v) for v in ws[:3])
        ent_w = w1 + w2 + w3
        if ent_w <= 0:
            break
        size = _int_after(obj, b"/Size") or 0
        idx_nums = [int(v) for v in _numbers_in_brackets(obj, b"/Index")]
        if not idx_nums:
            idx_nums = [0, size]
        raw = _stream_bytes(obj)
        pred = _int_after(obj, b"/Predictor")
        if pred and pred >= 10:
            cols = _int_after(obj, b"/Columns") or ent_w
            raw = _apply_png_predictor(raw, cols)
        pos2 = 0
        for first, count in zip(idx_nums[0::2], idx_nums[1::2]):
            for k in range(count):
                if pos2 + ent_w > len(raw):
                    break
                e = raw[pos2:pos2 + ent_w]
                pos2 += ent_w
                f1 = int.from_bytes(e[:w1], "big") if w1 else 1
                f2 = int.from_bytes(e[w1:w1 + w2], "big")
                f3 = int.from_bytes(e[w1 + w2:], "big")
                onum = first + k
                if onum in index:
                    continue  # a newer xref section already claimed it
                if f1 == 1:
                    index[onum] = ("d", f2)
                elif f1 == 2:
                    index[onum] = ("c", f2, f3)
        prev = _int_after(obj, b"/Prev")
        off = prev if prev is not None else -1
    return index


def _objects_via_xref(data: bytes) -> Dict[int, bytes]:
    """Object bodies located through the xref-stream index. Direct
    objects are bounded by the NEXT indexed offset (exact file-layout
    boundaries — immune to indirect /Length and to stream bytes that
    happen to contain ``endobj``, where the sequential scan guesses);
    type-2 entries are pulled from their ObjStm container by index."""
    index = _parse_xref_index(data)
    if not index:
        return {}
    objs: Dict[int, bytes] = {}
    doffs = sorted(v[1] for v in index.values() if v[0] == "d")
    nxt = {off: n for off, n in zip(doffs, doffs[1:] + [len(data)])}
    for num, ent in index.items():
        if ent[0] != "d":
            continue
        off = ent[1]
        m = _OBJ_HEAD_RE.search(data, off, off + 64)
        if not m or m.start() > off + 8:
            continue
        body = data[m.end():nxt.get(off, len(data))]
        e = body.rfind(b"endobj")
        if e != -1:
            body = body[:e]
        objs[num] = body
    containers: Dict[int, list] = {}
    for num, ent in index.items():
        if ent[0] == "c":
            containers.setdefault(ent[1], []).append((ent[2], num))
    for cnum, members in containers.items():
        cobj = objs.get(cnum)
        if cobj is None:
            continue
        n = _int_after(cobj, b"/N")
        first = _int_after(cobj, b"/First")
        if not n or first is None:
            continue
        cdata = _stream_bytes(cobj)
        try:
            ints = [int(x) for x in cdata[:first].split()[:2 * n]]
        except ValueError:
            continue
        pairs = list(zip(ints[0::2], ints[1::2]))
        for idx_in, num in members:
            if idx_in >= len(pairs):
                continue
            _onum, off2 = pairs[idx_in]
            end2 = (first + pairs[idx_in + 1][1]
                    if idx_in + 1 < len(pairs) else len(cdata))
            objs[num] = cdata[first + off2:end2].strip()
    return objs


def _dict_value(obj: bytes, key: bytes) -> Optional[bytes]:
    idx = obj.find(key)
    if idx < 0:
        return None
    return obj[idx + len(key):]


def _ref_after(obj: bytes, key: bytes) -> Optional[int]:
    tail = _dict_value(obj, key)
    if tail is None:
        return None
    m = re.match(rb"\s*(\d+)\s+0\s+R", tail)
    return int(m.group(1)) if m else None


def _numbers_in_brackets(obj: bytes, key: bytes) -> List[float]:
    tail = _dict_value(obj, key)
    if tail is None:
        return []
    m = re.match(rb"\s*\[(.*?)\]", tail, re.DOTALL)
    if not m:
        return []
    return [float(x) for x in re.findall(rb"[\d.-]+", m.group(1))]


def _refs_in_brackets(obj: bytes, key: bytes) -> List[int]:
    tail = _dict_value(obj, key)
    if tail is None:
        return []
    m = re.match(rb"\s*\[(.*?)\]", tail, re.DOTALL)
    if not m:
        return []
    return [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", m.group(1))]


# --- content-stream lexer + interpreter --------------------------------------

# one alternation regex drives the lexer loop in C; only literal
# strings with NESTED unescaped parens fall back to a manual scan
# (the regex string arm stops at the first unescaped ')')
_TOKEN_RE = re.compile(
    rb"(?P<num>[-+]?(?:\d+\.?\d*|\.\d+))"
    rb"|(?P<op>[A-Za-z'\"*]{1,3})"
    rb"|(?P<name>/[^\s/\[\]()<>{}%]*)"
    rb"|(?P<str>\((?:[^()\\]|\\.)*\)?)"
    rb"|(?P<larr>\[)"
    rb"|(?P<rarr>\])"
    rb"|(?P<dict><<)"
    rb"|(?P<hex><[^>]*>?)"
    rb"|(?P<comment>%[^\n]*)"
)
def _scan_string(data: bytes, i: int) -> Tuple[bytes, int]:
    """Manual literal-string scan (escape- and nesting-aware) starting
    at the ``(`` at position i; returns (body, end_index)."""
    j = i + 1
    depth = 1
    n = len(data)
    buf = bytearray()
    while j < n and depth:
        ch = data[j:j + 1]
        if ch == b"\\":
            buf += data[j:j + 2]
            j += 2
            continue
        if ch == b"(":
            depth += 1
        elif ch == b")":
            depth -= 1
            if depth == 0:
                j += 1
                break
        buf += ch
        j += 1
    return bytes(buf), j


def _lex_content(data: bytes) -> List[Tuple[str, object]]:
    """Tokenize a (decoded) content stream into tagged tokens:
    names, literal/hex strings, numbers, array brackets, operators."""
    toks: List[Tuple[str, object]] = []
    n = len(data)
    pos = 0
    while pos < n:
        m = _TOKEN_RE.search(data, pos)
        if m is None:
            break
        kind = m.lastgroup
        pos = m.end()
        if kind == "num":
            toks.append(("num", float(m.group())))
        elif kind == "op":
            toks.append(("op", m.group().decode("latin-1")))
        elif kind == "name":
            toks.append(("name", m.group()[1:].decode("latin-1")))
        elif kind == "str":
            body = m.group()
            if body.endswith(b")"):
                inner = body[1:-1]
            else:
                # regex stopped early: nested unescaped paren (or EOF) —
                # redo with the depth-aware scanner
                inner, pos = _scan_string(data, m.start())
            toks.append(("str", inner))
        elif kind == "larr":
            toks.append(("larr", None))
        elif kind == "rarr":
            toks.append(("rarr", None))
        elif kind == "dict":  # inline dict: skip to matching >>
            j = data.find(b">>", pos)
            pos = n if j == -1 else j + 2
        elif kind == "hex":
            body = m.group()
            end = -1 if body.endswith(b">") else None
            hx = re.sub(rb"[^0-9a-fA-F]", b"", body[1:end])
            if len(hx) % 2:
                hx += b"0"
            toks.append(("hexstr", bytes.fromhex(hx.decode("latin-1"))))
        # comments: skipped
    return toks


class PdfInlineImageError(ValueError):
    """A content stream carries a BI/ID/EI inline image: the text
    interpreter cannot parse past the binary payload, so the document
    must be rerouted to the OCR arm (or quarantined by callers that
    cannot reroute)."""


def _interpret_content(stream: bytes, height: float,
                       fonts: Dict[str, str], page: PdfPage) -> None:
    """Run the text/path operators of one content stream into ``page``.

    Text state machine per PDF spec subset: ``Tf`` font+size, ``Td``/
    ``TD`` line translation, ``Tm`` text matrix (translation honored),
    ``TL`` leading, ``T*`` next line, ``Tj``/``'`` single show,
    ``TJ`` array show with kerning advances (thousandths of text
    space). Each shown string run becomes one word box — the parser's
    atomic unit, mirroring pdfplumber ``extract_words`` granularity.
    Path ops: ``m``/``l`` segments and ``re`` rects collected until
    ``S`` strokes them into page.lines / page.rects.
    """
    # accept plain {key: BaseFont-name} maps (test/back-compat shape)
    fonts = {k: (_font_info(v) if isinstance(v, str) else v)
             for k, v in fonts.items()}
    font_key: Optional[str] = None
    size = 12.0
    leading = 0.0
    lx = ly = x = y = 0.0
    stack: List[Tuple[str, object]] = []
    path_segs: List[Tuple[float, float, float, float]] = []
    path_rects: List[Tuple[float, float, float, float]] = []
    cur_pt: Optional[Tuple[float, float]] = None

    def nums(k: int) -> List[float]:
        vals = [v for t, v in stack if t == "num"]
        return vals[-k:] if len(vals) >= k else []

    def emit(raw: bytes, hex_: bool = False) -> None:
        nonlocal x
        finfo = fonts.get(font_key or "", _DEFAULT_FONT)
        fontname = finfo["name"]
        if finfo["cid"]:
            # Type0/Identity-H: raw bytes are big-endian 2-byte CIDs,
            # decoded through the /ToUnicode cmap; widths from the
            # descendant's /W table (default /DW)
            codes = [(raw[i] << 8) | raw[i + 1]
                     for i in range(0, len(raw) - 1, 2)]
            cmap = finfo["cmap"] or {}
            if not cmap and finfo.get("enc") == "ucs2":
                # predefined UCS2 CMap (/UniGB-UCS2-H family): the
                # 2-byte code IS the UCS-2 code point — decode
                # directly; lone surrogates fall back to "�"
                text = "".join(
                    chr(c) if not 0xD800 <= c <= 0xDFFF else "�"
                    for c in codes)
            else:
                text = "".join(cmap.get(c, "�") for c in codes)
            wtab = finfo["widths"] or {}
            w = sum(wtab.get(c, finfo["dw"])
                    for c in codes) / 1000.0 * size
        else:
            text = raw.decode("latin-1") if hex_ else _unesc(raw)
            # byte codes BEFORE any encoding remap: /Widths is keyed
            # by code, not by decoded character
            codes = [ord(ch) for ch in text]
            emap = finfo.get("enc_map")
            if emap is not None or finfo.get("t3"):
                emap = emap or {}
                if finfo.get("t3"):
                    # a Type3 code outside /Differences names only a
                    # glyph procedure — no silent latin-1 guess
                    text = "".join(emap.get(o, "�") for o in codes)
                else:
                    text = "".join(emap.get(o, chr(o)) for o in codes)
            if finfo["simple_widths"] is not None:
                fc = finfo["first_char"]
                ws = finfo["simple_widths"]
                fb = _CHAR_W.get(fontname, _DEFAULT_CHAR_W) * 1000.0
                wscale = finfo.get("wscale") or 0.001
                w = sum(
                    (ws[o - fc] if 0 <= o - fc < len(ws) else fb)
                    for o in codes
                ) * wscale * size
            else:
                cw = _CHAR_W.get(fontname, _DEFAULT_CHAR_W)
                w = cw * size * len(text)
        page.words.append({
            "text": text,
            "x0": x,
            "x1": x + w,
            "top": height - y - size * 0.8,
            "bottom": height - y + size * 0.2,
            "size": size,
            "fontname": fontname,
        })
        x += w

    def show_top() -> None:
        if stack and stack[-1][0] in ("str", "hexstr"):
            t, v = stack[-1]
            emit(v, hex_=(t == "hexstr"))

    i = 0
    toks = _lex_content(stream)
    while i < len(toks):
        tag, val = toks[i]
        i += 1
        if tag in ("num", "str", "hexstr", "name", "larr"):
            stack.append((tag, val))
            continue
        if tag == "rarr":
            arr: List[Tuple[str, object]] = []
            while stack and stack[-1][0] != "larr":
                arr.append(stack.pop())
            if stack:
                stack.pop()
            stack.append(("arr", list(reversed(arr))))
            continue
        op = val  # tag == "op"
        if op == "BT":
            lx = ly = x = y = 0.0
        elif op == "Tf":
            v = nums(1)
            if v:
                size = v[0]
            names = [v2 for t2, v2 in stack if t2 == "name"]
            if names:
                font_key = names[-1]
        elif op in ("Td", "TD"):
            v = nums(2)
            if len(v) == 2:
                lx += v[0]
                ly += v[1]
                x, y = lx, ly
                if op == "TD":
                    leading = -v[1]
        elif op == "Tm":
            v = nums(6)
            if len(v) == 6:
                lx, ly = v[4], v[5]
                x, y = lx, ly
        elif op == "TL":
            v = nums(1)
            if v:
                leading = v[0]
        elif op == "T*":
            ly -= leading
            x, y = lx, ly
        elif op == "Tj":
            show_top()
        elif op == "'":
            ly -= leading
            x, y = lx, ly
            show_top()
        elif op == "TJ":
            if stack and stack[-1][0] == "arr":
                for t2, v2 in stack[-1][1]:
                    if t2 == "str":
                        emit(v2)
                    elif t2 == "hexstr":
                        emit(v2, hex_=True)
                    elif t2 == "num":
                        x -= v2 / 1000.0 * size
        elif op == "m":
            v = nums(2)
            if len(v) == 2:
                cur_pt = (v[0], v[1])
        elif op == "l":
            v = nums(2)
            if len(v) == 2 and cur_pt is not None:
                path_segs.append((cur_pt[0], cur_pt[1], v[0], v[1]))
                cur_pt = (v[0], v[1])
        elif op == "re":
            v = nums(4)
            if len(v) == 4:
                path_rects.append((v[0], v[1], v[2], v[3]))
        elif op == "S":
            for (x0, y0, x1, y1) in path_segs:
                page.lines.append({
                    "x0": min(x0, x1),
                    "x1": max(x0, x1),
                    "top": height - max(y0, y1),
                    "bottom": height - min(y0, y1),
                    "width": abs(x1 - x0),
                    "height": abs(y1 - y0),
                })
            for (rx, ry, rw, rh) in path_rects:
                page.rects.append(
                    (rx, height - (ry + rh), rx + rw, height - ry))
            path_segs = []
            path_rects = []
            cur_pt = None
        elif op == "n":  # no-op path paint: discard path
            path_segs = []
            path_rects = []
            cur_pt = None
        elif op == "BI":
            # inline image (BI ... ID <binary> EI, ISO 32000-1 §8.9.7):
            # binary follows in the RAW stream, so the text interpreter
            # cannot continue past it. Signal the caller — the dispatch
            # layer reroutes the document to the OCR arm, the same
            # treatment image XObjects get via the has_image flag.
            # (The reference's byte-scan flag misses inline images
            # entirely — utils.py:467-481 looks for the '/Image'
            # keyword — so this routing is a deliberate capability add.)
            raise PdfInlineImageError(
                "content stream carries a BI/ID/EI inline image")
        # every operator consumes its operands (lenient postfix model)
        stack.clear()


_FONT_NAMES = {
    "F1": "Helvetica",
    "F2": "Helvetica-Bold",
    "F3": "Helvetica-Oblique",
    "F4": "Courier",
    "F5": "Helvetica-BoldOblique",
}

_FONT_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_BASEFONT_RE = re.compile(rb"/BaseFont\s*/([^\s/<>\]]+)")


def _font_info(name: str) -> Dict:
    """Mutable per-font record: simple fonts keep only ``name`` (width
    via the heuristic char table, or a /Widths array when present);
    Type0/CID fonts carry a ToUnicode cmap and a /W width table."""
    return {"name": name, "cid": False, "cmap": None, "widths": None,
            "dw": 1000.0, "first_char": None, "simple_widths": None,
            "enc": "identity", "enc_map": None, "t3": False,
            "wscale": None}


_DEFAULT_FONT = _font_info("Helvetica")

_BF_CHAR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BF_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BF_RANGE_ARR_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]")


def _hex_to_text(h: bytes) -> str:
    hx = h if len(h) % 4 == 0 else h + b"0" * (4 - len(h) % 4)
    return bytes.fromhex(hx.decode("latin-1")).decode(
        "utf-16-be", errors="ignore")


def _parse_tounicode(data: bytes) -> Dict[int, str]:
    """/ToUnicode CMap → {CID: text} from bfchar and bfrange sections
    (ISO 32000 §9.10.3; the structure non-Latin web PDFs rely on)."""
    cmap: Dict[int, str] = {}
    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        for lo, hi, dsts in _BF_RANGE_ARR_RE.findall(sec):
            lo_i = int(lo, 16)
            targets = re.findall(rb"<([0-9A-Fa-f]+)>", dsts)
            for k, dst in enumerate(targets):
                cmap[lo_i + k] = _hex_to_text(dst)
        for lo, hi, dst in _BF_RANGE_RE.findall(sec):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            base = int(dst, 16)
            if len(dst) > 4:
                continue  # multi-unit increment: rare, skip cleanly
            for k in range(min(hi_i - lo_i, 0xFFFF) + 1):
                cmap.setdefault(lo_i + k, chr(base + k))
    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for src, dst in _BF_CHAR_RE.findall(sec):
            cmap[int(src, 16)] = _hex_to_text(dst)
    return cmap


_W_ARRAY_RE = re.compile(rb"/W\s*\[((?:[^][]|\[[^]]*\])*)\]", re.DOTALL)


def _parse_cid_widths(dobj: bytes) -> Dict[int, float]:
    """CID /W array → {CID: width/1000-em}: mixed ``c [w…]`` and
    ``c1 c2 w`` forms (ISO 32000 §9.7.4.3)."""
    m = _W_ARRAY_RE.search(dobj)
    if not m:
        return {}
    widths: Dict[int, float] = {}
    toks = re.findall(rb"\[[^]]*\]|[-\d.]+", m.group(1))
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.startswith(b"["):
            i += 1
            continue
        if i + 1 < len(toks) and toks[i + 1].startswith(b"["):
            start = int(float(t))
            arr = [float(x) for x in re.findall(rb"[-\d.]+", toks[i + 1])]
            for j, wv in enumerate(arr):
                widths[start + j] = wv
            i += 2
        elif i + 2 < len(toks):
            c1, c2 = int(float(t)), int(float(toks[i + 1]))
            wv = float(toks[i + 2])
            for c in range(c1, min(c2, c1 + 0xFFFF) + 1):
                widths[c] = wv
            i += 3
        else:
            break
    return widths


def _fontfile_cmap(dobj: bytes, objs: Dict[int, bytes]) -> Dict[int, str]:
    """Descendant font dict → /FontDescriptor → embedded font program
    → gid→unicode: /FontFile2 (TrueType) via the program's ``cmap``
    table (kernels/ttf_cmap.py), else /FontFile3 (CFF/Type1C) via the
    charset's glyph names (kernels/cff_cmap.py). ``{}`` when any link
    is missing — the caller's "�" fallback stays in effect."""
    fd_ref = _ref_after(dobj, b"/FontDescriptor")
    fd = objs.get(fd_ref) if fd_ref is not None else None
    if fd is None:
        return {}
    ff_ref = _ref_after(fd, b"/FontFile2")
    ff = objs.get(ff_ref) if ff_ref is not None else None
    if ff is not None:
        from lexoid_spark.kernels.ttf_cmap import gid_to_text

        return gid_to_text(_stream_bytes(ff))
    f3_ref = _ref_after(fd, b"/FontFile3")
    f3 = objs.get(f3_ref) if f3_ref is not None else None
    if f3 is not None:
        from lexoid_spark.kernels.cff_cmap import gid_to_text

        return gid_to_text(_stream_bytes(f3))
    return {}


class PdfUnsupportedEncodingError(ValueError):
    """A Type0 font uses a predefined CMap this parser cannot decode
    (variable-width code space) and carries no /ToUnicode: decoding
    would garble silently, so the document must quarantine instead
    (VERDICT r04 task 5 — no silent garble path)."""


# fixed 2-byte predefined CMaps: Identity passes raw CIDs through,
# the UCS2 family encodes the UCS-2 code point directly
_ENCODING_NAME_RE = re.compile(rb"/Encoding\s*/([^\s/<>\[\]()]+)")
_UCS2_CMAP_RE = re.compile(
    rb"Uni(GB|CNS|JIS|JISX0213|KS)-UCS2-(H|V)\Z")


def _parse_font_obj(fobj: bytes, objs: Dict[int, bytes]) -> Dict:
    bm = _BASEFONT_RE.search(fobj)
    # strip subset prefix "ABCDEF+Name"
    name = (bm.group(1).decode("latin-1").split("+")[-1]
            if bm else "Helvetica")
    info = _font_info(name)
    if b"/Type0" in fobj:
        info["cid"] = True
        if re.search(rb"/Encoding\s+\d+\s+\d+\s+R", fobj):
            # embedded CMap stream: codespace ranges we do not parse
            raise PdfUnsupportedEncodingError(
                "embedded CMap /Encoding stream is unsupported")
        em = _ENCODING_NAME_RE.search(fobj)
        enc_name = em.group(1) if em else b"Identity-H"
        if enc_name in (b"Identity-H", b"Identity-V"):
            info["enc"] = "identity"
        elif _UCS2_CMAP_RE.match(enc_name):
            info["enc"] = "ucs2"
        else:
            # any other predefined CMap (GBK-EUC-H, 90ms-RKSJ-H, ...)
            # or an embedded CMap stream has a variable-width code
            # space this 2-byte interpreter would garble — quarantine,
            # even when a /ToUnicode is present (its keys are the same
            # variable-width codes)
            raise PdfUnsupportedEncodingError(
                f"unsupported Type0 /Encoding "
                f"{enc_name.decode('latin-1', 'replace')!r}")
        drefs = _refs_in_brackets(fobj, b"/DescendantFonts")
        dobj = objs.get(drefs[0]) if drefs else fobj
        if dobj is None:
            dobj = fobj
        dw = _int_after(dobj, b"/DW")
        if dw is not None:
            info["dw"] = float(dw)
        info["widths"] = _parse_cid_widths(dobj)
        tref = _ref_after(fobj, b"/ToUnicode")
        tobj = objs.get(tref) if tref is not None else None
        if tobj is not None:
            info["cmap"] = _parse_tounicode(_stream_bytes(tobj))
        elif info["enc"] == "identity":
            # No /ToUnicode: recover text from the embedded TrueType
            # program's own cmap table (Identity-H ⇒ CID == GID, so
            # inverting unicode→gid yields the decode map). Reference
            # reads such fonts via pdfplumber (static_parser.py:700-727).
            info["cmap"] = _fontfile_cmap(dobj, objs)
        # else (ucs2): codes decode directly in emit(); a font program
        # keyed by GID would be the WRONG map for UCS-2 codes
    else:
        fc = _int_after(fobj, b"/FirstChar")
        ws = _numbers_in_brackets(fobj, b"/Widths")
        if fc is not None and ws:
            info["first_char"] = fc
            info["simple_widths"] = ws
        is_t3 = b"/Type3" in fobj
        diff = _parse_differences(fobj)
        if diff is None:
            # /Encoding may be an indirect encoding dict
            eref = _ref_after(fobj, b"/Encoding")
            eobj = objs.get(eref) if eref is not None else None
            if eobj is not None:
                diff = _parse_differences(eobj)
        if diff or is_t3:
            # Type3 / custom-encoded simple font: byte codes decode
            # through the /Encoding /Differences glyph-name map (AGL
            # conventions). A Type3 code outside the map has no text
            # meaning at all (only a glyph procedure) → "�"; a simple
            # font falls back to its base encoding (≈ latin-1 for the
            # Standard/WinAnsi printable range this parser handles).
            info["enc_map"] = diff
            info["t3"] = is_t3
        if is_t3:
            # Type3 glyph space → text space via /FontMatrix (usually
            # [0.001 0 0 0.001 0 0]); only the x-scale matters for
            # word-box widths
            mnums = _numbers_in_brackets(fobj, b"/FontMatrix")
            info["wscale"] = float(mnums[0]) if mnums else 0.001
    return info


_DIFF_TOK_RE = re.compile(rb"/([^\s/<>\[\]()]+)|([+-]?\d+)")


def _parse_differences(fobj: bytes) -> Optional[Dict[int, str]]:
    """/Encoding << /Differences [c₁ /n₁ /n₂ … c₂ /m₁ …] >> →
    {code: char}: each integer resets the running code, each name
    consumes one code (PDF spec §9.6.6.1). Names outside AGL coverage
    keep no entry (the caller's fallback applies). ``None`` when the
    font has no /Differences array at all."""
    d_idx = fobj.find(b"/Differences")
    if d_idx == -1:
        return None
    tail = fobj[d_idx + len(b"/Differences"):]
    b_start = tail.find(b"[")
    b_end = tail.find(b"]")
    if b_start == -1 or b_end == -1 or b_end < b_start:
        return None
    from lexoid_spark.kernels.cff_cmap import glyph_name_to_char

    out: Dict[int, str] = {}
    code = 0
    for m in _DIFF_TOK_RE.finditer(tail[b_start + 1:b_end]):
        if m.group(2) is not None:
            code = int(m.group(2))
            continue
        ch = glyph_name_to_char(m.group(1).decode("latin-1"))
        if ch is not None and 0 <= code <= 0xFF:
            out[code] = ch
        code += 1
    return out


def _page_fonts(pobj: bytes, objs: Dict[int, bytes]) -> Dict[str, Dict]:
    """Resolve the page's /Resources /Font dict: key → font info
    (BaseFont name; CID decode tables for Type0 fonts; /Widths for
    simple fonts that carry one).

    Falls back to the fixture-dialect F1–F5 map for keys that cannot
    be resolved (missing resources, inline font dicts)."""
    fonts = {k: _font_info(v) for k, v in _FONT_NAMES.items()}
    f_idx = pobj.find(b"/Font")
    if f_idx == -1:
        return fonts
    tail = pobj[f_idx:]
    d_start = tail.find(b"<<")
    d_end = tail.find(b">>")
    if d_start == -1 or d_end == -1 or d_end < d_start:
        return fonts
    for m in _FONT_REF_RE.finditer(tail[d_start:d_end]):
        fobj = objs.get(int(m.group(2)))
        if fobj is None:
            continue
        fonts[m.group(1).decode("latin-1")] = _parse_font_obj(fobj, objs)
    return fonts


def _encryption_params(data: bytes, objs: Dict[int, bytes]):
    """Detect the standard security handler; return (file_key,
    encrypt_obj_num, method) or None, method in {"rc4", "aes",
    "aes256"}. V1/R2 empty-password RC4, V4/R4 /AESV2 and V5/R5-R6
    /AESV3 (the silent-open defaults across PDF generations) are in
    scope — anything else raises so the document QUARANTINES instead
    of parsing to garbage bytes."""
    # anchor the scan to the file TAIL (trailer dicts / xref-stream
    # dicts live there): a content stream that merely CONTAINS the
    # bytes '/Encrypt 5 0 R' (a PDF-spec tutorial document) must not
    # trigger the decryption path for an unencrypted file
    tail = data[max(0, len(data) - 4096):]
    m = None
    for m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", tail):
        pass  # last match = the live trailer in incremental updates
    if m is None and b"/Encrypt" in data:
        # the live trailer can lie OUTSIDE the 4 KiB tail (incremental
        # updates with trailing data, nonstandard layouts). Widen the
        # scan — but stay anchored to trailer/xref territory so a
        # content stream that merely CONTAINS '/Encrypt 5 0 R' (a
        # PDF-spec tutorial) still can't trigger decryption: scan from
        # the LAST 'trailer' keyword, else from the last startxref
        # target. Silently skipping here would make every stream fail
        # FlateDecode and return an empty parse instead of the
        # documented quarantine.
        t_idx = data.rfind(b"trailer")
        if t_idx == -1:
            sx = re.search(rb"startxref\s+(\d+)", data[-2048:])
            t_idx = int(sx.group(1)) if sx else -1
        if 0 <= t_idx < len(data):
            tail = data[t_idx:]
            for m in re.finditer(rb"/Encrypt\s+(\d+)\s+\d+\s+R", tail):
                pass
    if m is None:
        return None
    enc_num = int(m.group(1))
    enc = objs.get(enc_num)
    if enc is None:
        raise ValueError("encrypted PDF: /Encrypt object missing")
    if b"/Standard" not in enc:
        raise ValueError("unsupported PDF security handler")
    vm = re.search(rb"/V\s+(\d+)", enc)
    rm = re.search(rb"/R\s+(\d+)", enc)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    if (v, r) == (1, 2):
        method = "rc4"
    elif (v, r) == (4, 4):
        # V4 is only in scope through the AESV2 crypt filter routed at
        # both /StmF and (if strings appear) /StrF — V4/RC4 ("/V2")
        # or identity stream filters quarantine
        if b"/AESV2" not in enc or \
                not re.search(rb"/StmF\s*/StdCF", enc):
            raise ValueError("unsupported PDF V4 crypt filter "
                             "(only /AESV2 /StmF /StdCF is in scope)")
        method = "aes"
    elif v == 5 and r in (5, 6):
        # AESV3: 256-bit file key unwrapped from /UE by the SHA-2
        # password hash (R6 = ISO 32000-2 Algorithm 2.B iterated hash;
        # R5 = the deprecated single-SHA-256 Adobe extension)
        if b"/AESV3" not in enc or \
                not re.search(rb"/StmF\s*/StdCF", enc):
            raise ValueError("unsupported PDF V5 crypt filter "
                             "(only /AESV3 /StmF /StdCF is in scope)")
        method = "aes256"
    else:
        raise ValueError("unsupported PDF encryption revision "
                         "(long-key RC4 / unknown V,R are out of "
                         "kernel scope)")
    from lexoid_spark.kernels.pdf_crypt import (
        PAD,
        check_perms_v5,
        derive_key,
        derive_key_r34,
        derive_key_v5,
        rc4,
        u_value_r34,
    )

    def _hexval(key_name: bytes):
        m2 = re.search(rb"/" + key_name + rb"\s*<([0-9A-Fa-f\s]+)>", enc)
        return (bytes.fromhex(m2.group(1).decode().replace(" ", ""))
                if m2 else None)

    pm = re.search(rb"/P\s+(-?\d+)", enc)
    u_entry = _hexval(b"U")
    if method == "aes256":
        ue_entry = _hexval(b"UE")
        if u_entry is None or ue_entry is None:
            raise ValueError("encrypted PDF: malformed V5 /Encrypt "
                             "entries (/U //UE required)")
        # raises on a real password — quarantine
        key = derive_key_v5(u_entry, ue_entry, r=r)
        perms = _hexval(b"Perms")
        if perms is not None and pm is not None and \
                not check_perms_v5(perms, key, int(pm.group(1))):
            raise ValueError("encrypted PDF: /Perms integrity check "
                             "failed (tampered or wrong key)")
        return key, enc_num, method

    om = re.search(rb"/O\s*<([0-9A-Fa-f\s]+)>", enc)
    idm = None
    for idm in re.finditer(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>", tail):
        pass
    if not (om and pm and idm):
        raise ValueError("encrypted PDF: malformed /Encrypt entries")
    o_entry = bytes.fromhex(om.group(1).decode().replace(" ", ""))
    file_id = bytes.fromhex(idm.group(1).decode())
    if method == "rc4":
        key = derive_key(o_entry, int(pm.group(1)), file_id)
        # Algorithm 6 check: with the empty user password, RC4(key,
        # PAD) must equal /U — else a REAL password protects the doc
        if u_entry is not None and rc4(key, PAD) != u_entry:
            raise ValueError("password-protected PDF (empty user "
                             "password rejected)")
    else:
        no_meta = re.search(rb"/EncryptMetadata\s+false", enc)
        key = derive_key_r34(o_entry, int(pm.group(1)), file_id,
                             n=16, r=4,
                             encrypt_metadata=no_meta is None)
        # Algorithm 6 for R>=3 compares only the first 16 bytes of /U
        if u_entry is not None and \
                u_value_r34(key, file_id) != u_entry[:16]:
            raise ValueError("password-protected PDF (empty user "
                             "password rejected)")
    return key, enc_num, method


def _decrypt_streams(obj: bytes, file_key: bytes, num: int,
                     objs: Dict[int, bytes],
                     method: str = "rc4") -> bytes:
    """Decrypt an object's stream body in place (the exact byte count
    from /Length; an indirect ``/Length N G R`` resolves through
    ``objs``). RC4 preserves length; AES-CBC shrinks it (IV + PKCS#7
    padding come off), so the header's /Length entry is rewritten to
    the plaintext size to keep every downstream slice honest. Objects
    without streams pass through; an encrypted stream whose length
    CANNOT be resolved raises — quarantine, never a partial/garbage
    decrypt."""
    s_idx = obj.find(b"stream")
    if s_idx == -1:
        return obj
    header = obj[:s_idx]
    lm = _LENGTH_RE.search(header)
    if lm:
        ln = int(lm.group(1))
    else:
        im = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", header)
        ref = objs.get(int(im.group(1))) if im else None
        rm = re.match(rb"\s*(\d+)", ref) if ref is not None else None
        if rm is None:
            raise ValueError(
                "encrypted stream with unresolvable /Length")
        ln = int(rm.group(1))
    body = s_idx + len(b"stream")
    if obj[body:body + 2] == b"\r\n":
        body += 2
    elif obj[body:body + 1] == b"\n":
        body += 1
    from lexoid_spark.kernels.pdf_crypt import (
        aes_cbc_decrypt,
        object_key,
        rc4,
    )

    if method in ("aes", "aes256"):
        # AESV3 uses the FILE key directly for every stream (no
        # per-object derivation — ISO 32000-2 dropped Algorithm 1)
        sk = (file_key if method == "aes256"
              else object_key(file_key, num, aes=True))
        dec = aes_cbc_decrypt(sk, obj[body:body + ln])
        header = re.sub(rb"/Length\s+\d+(?:\s+\d+\s+R)?",
                        b"/Length %d" % len(dec), obj[:body], count=1)
        return header + dec + obj[body + ln:]
    dec = rc4(object_key(file_key, num), obj[body:body + ln])
    return obj[:body] + dec + obj[body + ln:]


def parse_pdf(data: bytes) -> List[PdfPage]:
    """Tokenize PDF bytes into page objects with words/lines/rects/annots."""
    scanned = _parse_objects(data)
    # xref-stream index (PDF 1.5): exact boundaries beat the scan's
    # guesses (indirect /Length, 'endobj' inside stream bytes); classic
    # xref tables return {} and the scan stands alone
    scanned.update(_objects_via_xref(data))
    # decrypt BEFORE ObjStm expansion: container streams are encrypted
    # at the container level, members inherit the expanded plaintext
    enc = _encryption_params(data, scanned)
    if enc is not None:
        file_key, enc_num, method = enc
        scanned = {
            n: (o if n == enc_num
                else _decrypt_streams(o, file_key, n, scanned, method))
            for n, o in scanned.items()
        }
    objs = _expand_object_streams(scanned)
    # find catalog → pages → kids (fall back to document order of /Type /Page)
    page_nums: List[int] = []
    for num, obj in objs.items():
        if b"/Type /Catalog" in obj:
            pages_ref = _ref_after(obj, b"/Pages")
            if pages_ref in objs:
                page_nums = _refs_in_brackets(objs[pages_ref], b"/Kids")
            break
    if not page_nums:
        page_nums = sorted(
            n for n, o in objs.items() if b"/Type /Page" in o and b"/Pages" not in o
        )

    pages: List[PdfPage] = []
    for pnum in page_nums:
        pobj = objs.get(pnum)
        if pobj is None:
            continue
        media = _numbers_in_brackets(pobj, b"/MediaBox") or [0, 0, 612, 792]
        if len(media) < 4:
            media = [0, 0, 612, 792]  # corrupt box → US-Letter default
        width = media[2] - media[0]
        height = media[3] - media[1]
        page = PdfPage(width, height)
        fonts = _page_fonts(pobj, objs)

        # /Contents: single ref or array of refs; streams concatenated
        crefs = _refs_in_brackets(pobj, b"/Contents")
        if not crefs:
            cref = _ref_after(pobj, b"/Contents")
            crefs = [cref] if cref is not None else []
        stream = b"\n".join(
            _stream_bytes(objs[r]) for r in crefs if r in objs
        )
        _interpret_content(stream, height, fonts, page)

        for aref in _refs_in_brackets(pobj, b"/Annots"):
            aobj = objs.get(aref)
            if aobj is None or b"/URI" not in aobj:
                continue
            rect = _numbers_in_brackets(aobj, b"/Rect")
            um = re.search(rb"/URI\s*\((.*?)(?<!\\)\)", aobj, re.DOTALL)
            uri = _unesc(um.group(1)) if um else None
            if uri and len(rect) == 4:
                page.annots.append({"uri": uri, "rect": rect})
        pages.append(page)
    return pages


def get_uri_rects(data: bytes) -> Dict[str, List[float]]:
    """Scrape uri→rect from raw bytes, exactly utils.py:615-624."""
    byte_str = str(data)
    uris = _URI_PATTERN.findall(byte_str)
    rect_splits = byte_str.split(_URI_RECT_SPLIT)[1:]
    rects = []
    for rs in rect_splits:
        try:
            rects.append([float(v) for v in rs.split("]")[0].split()])
        except ValueError:
            continue
    return {uri: rect for uri, rect in zip(uris, rects)}


# --- table detection (lines-strategy analogue over stroked rect edges) -----

def _cluster(values: List[float], tol: float) -> List[float]:
    out: List[float] = []
    for v in sorted(values):
        if out and v - out[-1] <= tol:
            continue
        out.append(v)
    return out


def find_tables(page: PdfPage, snap_x_tolerance=10.0, snap_y_tolerance=0.0):
    """Detect ruled tables from stroked rectangles.

    Groups rects into connected clusters; each cluster's distinct edge
    coordinates (snapped within tolerance) define a cell grid — the
    "lines" strategy analogue of ``page.find_tables`` at
    ``static_parser.py:352-361``.
    Returns list of (bbox, cells) with bbox=(x0, top, x1, bottom).
    """
    rects = list(page.rects)
    if not rects:
        return []
    # connected-component grouping by bbox touch/overlap (1pt slack)
    groups: List[List[Tuple[float, float, float, float]]] = []
    for r in rects:
        placed = None
        for g in groups:
            for o in g:
                if (r[0] <= o[2] + 1 and r[2] >= o[0] - 1
                        and r[1] <= o[3] + 1 and r[3] >= o[1] - 1):
                    placed = g
                    break
            if placed:
                break
        if placed is not None:
            placed.append(r)
        else:
            groups.append([r])
    # merge groups that became connected transitively
    merged = True
    while merged:
        merged = False
        for i in range(len(groups)):
            for j in range(i + 1, len(groups)):
                touch = any(
                    a[0] <= b[2] + 1 and a[2] >= b[0] - 1
                    and a[1] <= b[3] + 1 and a[3] >= b[1] - 1
                    for a in groups[i] for b in groups[j]
                )
                if touch:
                    groups[i].extend(groups[j])
                    del groups[j]
                    merged = True
                    break
            if merged:
                break

    tables = []
    for g in groups:
        xs = _cluster([r[0] for r in g] + [r[2] for r in g],
                      max(snap_x_tolerance, 0.01))
        ys = _cluster([r[1] for r in g] + [r[3] for r in g],
                      max(snap_y_tolerance, 0.01))
        if len(xs) < 2 or len(ys) < 2:
            continue
        cells = []
        for j in range(len(ys) - 1):
            row = []
            for i in range(len(xs) - 1):
                row.append((xs[i], ys[j], xs[i + 1], ys[j + 1]))
            cells.append(row)
        bbox = (xs[0], ys[0], xs[-1], ys[-1])
        tables.append((bbox, cells))
    tables.sort(key=lambda t: t[0][1])
    return tables


def _intersects(word_bbox, cell_bbox) -> bool:
    wx0, wtop, wx1, wbot = word_bbox
    cx0, ctop, cx1, cbot = cell_bbox
    return (wx0 <= cx1) and (wx1 >= cx0) and (wtop <= cbot) and (wbot >= ctop)


def _extract_table(page: PdfPage, bbox, cells, y_tolerance=5.0):
    """Cell grid → text grid → cleaned pipe markdown + word bboxes."""
    grid: List[List[Optional[str]]] = []
    for row in cells:
        grid_row = []
        for cell in row:
            in_cell = [
                w for w in page.words
                if _intersects((w["x0"], w["top"], w["x1"], w["bottom"]), cell)
            ]
            if not in_cell:
                grid_row.append(None)
                continue
            in_cell.sort(key=lambda w: (w["top"], w["x0"]))
            lines: List[List[str]] = []
            last_top = None
            for w in in_cell:
                if last_top is None or abs(w["top"] - last_top) > y_tolerance:
                    lines.append([])
                    last_top = w["top"]
                lines[-1].append(w["text"])
            grid_row.append("\n".join(" ".join(ln) for ln in lines))
        grid.append(grid_row)

    md = clean_table_grid(grid)
    if md is None:
        return "", []
    md = "\n%s\n\n" % md

    bboxes = []
    pw, ph = page.width, page.height
    for row in cells:
        for cell in row:
            for w in page.words:
                wb = (w["x0"], w["top"], w["x1"], w["bottom"])
                if _intersects(wb, cell):
                    text = (w["text"] or "").strip()
                    if not text:
                        continue
                    bboxes.append(
                        (text, (w["x0"] / pw, w["top"] / ph,
                                w["x1"] / pw, w["bottom"] / ph))
                    )
    return md, bboxes


# --- formatting helpers (static_parser.py:418-519) --------------------------

_FMT_MEMO: Dict[str, Dict[str, bool]] = {}


def _get_formatting(word) -> Dict[str, bool]:
    name = word.get("fontname") or ""
    fmt = _FMT_MEMO.get(name)
    if fmt is None:
        font = name.lower()
        fmt = {
            "bold": any(s in font for s in ("bold", "heavy", "black")),
            "italic": any(s in font for s in ("italic", "oblique")),
            "monospace": "mono" in font or "courier" in font,
        }
        if len(_FMT_MEMO) < 10_000:
            _FMT_MEMO[name] = fmt
    return fmt


def _apply_formatting(text, fmt) -> str:
    if fmt["monospace"]:
        text = f"`{text}`"
    if fmt["bold"] and fmt["italic"]:
        text = f"***{text}***"
    elif fmt["bold"]:
        text = f"**{text}**"
    elif fmt["italic"]:
        text = f"*{text}*"
    return text


def _detect_heading_level(font_size, body_font_size) -> Optional[int]:
    ratio = font_size / body_font_size
    if ratio >= 2:
        return 1
    if ratio >= 1.4:
        return 2
    if ratio >= 1.2:
        return 3
    return None


def _detect_indentation_level(word, base_left) -> int:
    diff = word["x0"] - base_left
    if diff < 5:
        return 0
    return int(diff // 25) + 1


# --- the page state machine (static_parser.py:259-670) ----------------------

def process_page(page: PdfPage, uri_rects: Dict[str, List[float]],
                 x_tolerance=1.0, y_tolerance=5.0):
    """One page → (markdown, word_bboxes). Mirrors the reference flow."""
    markdown_content: List[str] = []
    current_paragraph: List = []
    current_heading: List[Dict] = []
    last_y = None
    next_h_line_idx = 0
    word_bboxes: List[Tuple[str, Tuple[float, float, float, float]]] = []
    pw, ph = page.width, page.height

    horizontal_lines = [
        {"top": ln["top"], "bottom": ln["bottom"], "x0": ln["x0"], "x1": ln["x1"]}
        for ln in page.lines
        if abs(ln["height"]) < 0.1 or abs(ln["width"]) > abs(ln["height"]) * 20
    ]

    table_zones = []
    for bbox, cells in find_tables(page):
        md, bboxes = _extract_table(page, bbox, cells, y_tolerance)
        table_zones.append((bbox, md, bboxes))

    # filter out words overlapping any table zone (static_parser.py:367-372)
    def in_any_zone(w):
        wb = (w["x0"], w["top"], w["x1"], w["bottom"])
        return any(_intersects(wb, z[0]) for z in table_zones)

    words = [dict(w) for w in page.words if not in_any_zone(w)]
    words.sort(key=lambda w: (w["top"], w["x0"]))

    if words:
        sizes = [w.get("size", 12) for w in words]
        body_font_size = max(set(sizes), key=sizes.count)
    else:
        body_font_size = 12

    left_positions = []
    prev_bottom = None
    for w in words:
        if prev_bottom is None or abs(w["top"] - prev_bottom) > y_tolerance:
            left_positions.append(w["x0"])
        prev_bottom = w["top"]
    base_left = (
        max(set(left_positions), key=left_positions.count) if left_positions else 0
    )

    # strikethrough marking (first overlapping word per line)
    for line in horizontal_lines:
        for w in words:
            x_ov = (w["x0"] <= line["x1"]) and (w["x1"] >= line["x0"])
            y_ov = (w["top"] <= line["bottom"]) and (w["bottom"] >= line["top"])
            if x_ov and y_ov:
                w["text"] = f"~~{w['text']}~~"
                break

    def normalize_bbox(w):
        return (w["x0"] / pw, w["top"] / ph, w["x1"] / pw, w["bottom"] / ph)

    def format_paragraph(elements) -> str:
        all_mono = True
        formatted = []
        for el in elements:
            if isinstance(el, tuple) and el[0] == "indent":
                formatted.append("&nbsp;" * el[1] * 3)
                continue
            fmt = _get_formatting(el)
            if fmt["monospace"]:
                fw = f"`{el['text']}`"
            else:
                all_mono = False
                fw = _apply_formatting(el["text"], fmt)
            formatted.append(fw)
            word_bboxes.append((fw, normalize_bbox(el)))
        if all_mono:
            elements = list(elements)
            if isinstance(elements[0], tuple):
                indent_str = " " * elements[0][1]
                if len(elements) > 1:
                    elements = elements[1:]
                    elements[0] = dict(elements[0])
                    elements[0]["text"] = indent_str + elements[0]["text"]
                else:
                    return indent_str
            code = " ".join(el["text"] for el in elements)
            return f"```\n{code}\n```\n\n"
        return f"{' '.join(formatted)}\n\n"

    def flush_heading():
        nonlocal current_heading
        if current_heading:
            level = _detect_heading_level(
                current_heading[0]["size"], body_font_size
            )
            heading_text = format_paragraph(current_heading)
            markdown_content.append(f"{'#' * (level or 1)} {heading_text}")
            current_heading = []

    def flush_paragraph():
        nonlocal current_paragraph
        if current_paragraph:
            markdown_content.append(format_paragraph(current_paragraph))
            current_paragraph = []

    # reading-order interleave (static_parser.py:536-563)
    tables = [
        ("table", {"top": z[0][1], "bottom": z[0][3], "content": z[1],
                   "bboxes": z[2]})
        for z in table_zones
    ]
    tables.sort(key=lambda t: t[1]["bottom"])

    content_elements: List[Tuple[str, Dict]] = []
    for line in horizontal_lines:
        content_elements.append(("horizontal_line", dict(line)))
    for i, w in enumerate(words):
        while tables and w["bottom"] > tables[0][1]["bottom"]:
            content_elements.append(tables.pop(0))
        if i > 0 and abs(w["top"] - words[i - 1]["top"]) < 3:
            w["top"] = words[i - 1]["top"]
        content_elements.append(("word", w))
    content_elements.extend(tables)
    content_elements.sort(key=lambda x: x[1].get("top", 0))

    for element_type, element in content_elements:
        if element_type == "table":
            flush_heading()
            flush_paragraph()
            markdown_content.append(element["content"])
            word_bboxes.extend(element["bboxes"])
            last_y = element["bottom"]
        elif element_type == "horizontal_line":
            while (next_h_line_idx < len(horizontal_lines)) and (
                last_y is not None
                and horizontal_lines[next_h_line_idx]["top"] <= last_y
            ):
                flush_paragraph()
                markdown_content.append("\n---\n\n")
                next_h_line_idx += 1
        else:
            w = element
            heading_level = _detect_heading_level(w["size"], body_font_size)
            is_new_line = last_y is not None and abs(w["top"] - last_y) > y_tolerance
            if is_new_line:
                flush_heading()
                flush_paragraph()
                if heading_level is None:
                    current_paragraph.append(
                        ("indent", _detect_indentation_level(w, base_left))
                    )
            if heading_level:
                flush_paragraph()
                current_heading.append(w)
            else:
                flush_heading()
                current_paragraph.append(w)
            last_y = w["top"]

    flush_heading()
    flush_paragraph()

    content = "".join(markdown_content)

    # link embedding (static_parser.py:178-237)
    links = []
    for annot in page.annots:
        uri = annot.get("uri")
        if uri and uri_rects.get(uri):
            links.append((uri_rects[uri], uri))
    if links:
        content = _embed_links_in_text(page, content, links)

    content = embed_email_links(content)
    content = cleanup_redundant_formatting(content)
    return content, word_bboxes


def _embed_links_in_text(page: PdfPage, text: str, links) -> str:
    """Splice inline ``[span](uri)`` markdown around the words each
    link rect covers (behavior parity with the reference's link
    embedding, static_parser.py:178-237 — reimplemented, not copied).

    Word→char offsets come from ONE sequential scan of ``text`` in
    reading order; every splice grows the string by ``len(uri) + 4``
    (the ``[]()`` wrapper), so later spans carry that growth.
    Quirk-compat for byte identity: a hit whose running offset is 0 is
    falsy and does not anchor the span start (the reference tests the
    position truthily), and rect containment uses a ±1pt tolerance in
    bottom-up page coordinates.
    """
    located: List[Tuple[str, float, float, int]] = []
    scan = 0
    for w in sorted(page.words, key=lambda d: (d["top"], d["x0"])):
        token = w["text"]
        hit = text.find(token, scan)
        if hit < 0:
            continue
        located.append((token, w["x0"], page.height - w["top"], hit))
        scan = hit + len(token)

    grown = 0
    for (x_lo, y_lo, x_hi, y_hi), uri in links:
        lo = hi = None
        for token, x, y, at in located:
            inside = (x_lo - 1 <= x <= x_hi + 1
                      and y_lo - 1 <= y <= y_hi + 1)
            if not inside:
                continue
            if not lo:  # quirk-compat: a 0 offset never anchors
                lo = at + grown
            hi = at + len(token) + grown
        if lo is None:
            continue
        # widen both ends to whitespace-delimited token boundaries
        if lo > 0 and text[lo - 1] != " ":
            lo -= len(text[:lo].rsplit(" ", 1)[-1])
        if hi < len(text) and text[hi:hi + 1] != " ":
            hi += len(text[hi:].split(" ", 1)[0])
        text = "".join(
            (text[:lo], "[", text[lo:hi], "](", uri, ")", text[hi:])
        )
        grown += len(uri) + 4
    return text


# --- document-level entry points --------------------------------------------

def pdf_to_pages(data, start: int = 0) -> List[Tuple[int, str]]:
    """PDF bytes → [(page_number, markdown)] with page = start + idx + 1:
    ``pdf_to_pages_with_bboxes`` without the boxes (``process_page``
    computes them either way)."""
    return [(p, c) for p, c, _ in pdf_to_pages_with_bboxes(data, start)]


def pdf_to_md(data, start: int = 0) -> str:
    """PDF bytes → whole-document markdown (pages joined by blank line)."""
    return "\n\n".join(c for _, c in pdf_to_pages(data, start))


def pdf_to_text_pages(data, start: int = 0,
                      y_tolerance: float = 5.0) -> List[Tuple[int, str]]:
    """Cheap text-only PDF arm (the reference's pdfminer framework,
    ``static_parser.py:144-177``): per page, words in reading order
    grouped into lines (y tolerance), words joined by spaces, lines by
    newlines — no layout reconstruction, no markdown, no table
    detection. Routed by ``extract(pdf_framework="pdfminer")`` when
    speed beats fidelity."""
    if data is None:
        return []
    out = []
    for idx, page in enumerate(parse_pdf(bytes(data))):
        words = sorted(page.words, key=lambda w: (w["top"], w["x0"]))
        lines: List[List[str]] = []
        last_top: Optional[float] = None
        for w in words:
            if last_top is None or abs(w["top"] - last_top) > y_tolerance:
                lines.append([])
                last_top = w["top"]
            lines[-1].append(w["text"])
        out.append((start + idx + 1,
                    "\n".join(" ".join(ln) for ln in lines)))
    return out


def pdf_to_text(data, start: int = 0) -> str:
    """Whole-document cheap arm; pages joined "\\n" exactly as the
    reference joins pdfminer page texts (static_parser.py:170)."""
    return "\n".join(c for _, c in pdf_to_text_pages(data, start))


def pdf_image_xobjects(data) -> List[Tuple[bytes, bytes]]:
    """Embedded /Subtype /Image XObjects as ``(dict_header,
    stream_payload)`` in object order — the header is needed to
    interpret raw-sample rasters (/Width /Height /BitsPerComponent
    /ColorSpace /DecodeParms), while file-format payloads (DCTDecode
    JPEG) self-describe."""
    if data is None:
        return []
    objs = _parse_objects(bytes(data))
    out = []
    for num in sorted(objs):
        obj = objs[num]
        s_idx = obj.find(b"stream")
        if s_idx != -1 and b"/Subtype /Image" in obj[:s_idx]:
            out.append((obj[:s_idx], _stream_bytes(obj)))
    return out


def pdf_image_payloads(data) -> List[bytes]:
    """Embedded /Subtype /Image XObject stream payloads, in object
    order — the input units for the OCR arm (P5)."""
    return [p for _h, p in pdf_image_xobjects(data)]


# inline-image dict abbreviations (ISO 32000-1 Table 93/94) → the full
# names the raster arms read; token-boundary regexes so /F never eats
# /Fl and /D never eats /DP or /DCT
_INLINE_ABBREVS = (
    (b"BPC", b"BitsPerComponent"), (b"CS", b"ColorSpace"),
    (b"DP", b"DecodeParms"), (b"IM", b"ImageMask"), (b"W", b"Width"),
    (b"H", b"Height"), (b"F", b"Filter"), (b"L", b"Length"),
    (b"G", b"DeviceGray"), (b"RGB", b"DeviceRGB"), (b"I", b"Interpolate"),
    (b"D", b"Decode"), (b"Fl", b"FlateDecode"), (b"DCT", b"DCTDecode"),
    (b"CCF", b"CCITTFaxDecode"), (b"AHx", b"ASCIIHexDecode"),
)


def _expand_inline_dict(d: bytes) -> bytes:
    for abbr, full in _INLINE_ABBREVS:
        d = re.sub(rb"/" + abbr + rb"(?![A-Za-z0-9])", b"/" + full, d)
    return d


def _page_content_streams(data: bytes) -> List[bytes]:
    """Decoded (filters applied) content stream per page, in page
    order — the object/page walk of parse_pdf without the text
    interpretation (encrypted documents out of scope here: they
    quarantine on the text path before inline extraction matters)."""
    scanned = _parse_objects(bytes(data))
    scanned.update(_objects_via_xref(data))
    objs = _expand_object_streams(scanned)
    page_nums: List[int] = []
    for _num, obj in objs.items():
        if b"/Type /Catalog" in obj:
            pages_ref = _ref_after(obj, b"/Pages")
            if pages_ref in objs:
                page_nums = _refs_in_brackets(objs[pages_ref], b"/Kids")
            break
    if not page_nums:
        page_nums = sorted(
            n for n, o in objs.items()
            if b"/Type /Page" in o and b"/Pages" not in o
        )
    out = []
    for pnum in page_nums:
        pobj = objs.get(pnum)
        if pobj is None:
            continue
        crefs = _refs_in_brackets(pobj, b"/Contents")
        if not crefs:
            cref = _ref_after(pobj, b"/Contents")
            crefs = [cref] if cref is not None else []
        out.append(b"\n".join(
            _stream_bytes(objs[r]) for r in crefs if r in objs))
    return out


_BI_RE = re.compile(rb"(?:^|[\s>])BI(?=[\s/])")
_ID_RE = re.compile(rb"(?<=[\s>])ID(?=[\s])")
_EI_RE = re.compile(rb"\sEI(?=\s|$)")
_SKIP_START_RE = re.compile(rb"[(<%]")
_COMMENT_EOL_RE = re.compile(rb"[\r\n]")


def _scan_operator(stream: bytes, pos: int,
                   op_re: "re.Pattern[bytes]"):
    """Next ``op_re`` match at *operator* level: literal strings, hex
    strings and comments are skipped, so a match inside a ``(text)``
    operand is data, not an operator. (A raw regex scan false-
    positived on e.g. ``(A BI B) Tj`` and quarantined clean text
    PDFs.) Dict delimiters ``<<``/``>>`` are stepped over so strings
    INSIDE dicts are still skipped."""
    n = len(stream)
    while pos < n:
        head = stream[pos:pos + 1]
        if head == b"(":
            _, pos = _scan_string(stream, pos)
            continue
        if head == b"<":
            if stream[pos:pos + 2] == b"<<":
                pos += 2
            else:
                j = stream.find(b">", pos + 1)
                pos = n if j == -1 else j + 1
            continue
        if head == b"%":
            e = _COMMENT_EOL_RE.search(stream, pos)
            pos = n if e is None else e.end()
            continue
        m = op_re.search(stream, pos)
        if m is None:
            return None
        skip = _SKIP_START_RE.search(stream, pos, m.start())
        if skip is None:
            return m
        pos = skip.start()
    return None


def pdf_inline_images(data) -> List[Tuple[bytes, bytes]]:
    """BI/ID/EI inline images (ISO 32000-1 §8.9.7) from every page
    content stream, as ``(canonical_header, payload)`` — abbreviations
    expanded to the full names so the same raster arms that consume
    image XObjects (:func:`pdf_image_xobjects`) interpret them:
    FlateDecode payloads come back inflated (PNG predictors stay
    declared in the header for the caller's unfilter), DCTDecode JPEG
    and CCITTFaxDecode fax bytes come back verbatim. The payload end
    is the /L (Length) entry when present, else the first whitespace-
    delimited EI (exact for unfiltered fixtures — raw 0/255 samples
    can never contain it). Malformed inline images raise (→
    quarantine), never a silent skip. The reference's has-image byte
    scan (utils.py:467-481) misses inline images entirely; surfacing
    them to the OCR arm is a deliberate capability add."""
    if data is None:
        return []
    out: List[Tuple[bytes, bytes]] = []
    for stream in _page_content_streams(bytes(data)):
        pos = 0
        while True:
            m = _scan_operator(stream, pos, _BI_RE)
            if m is None:
                break
            id_m = _scan_operator(stream, m.end(), _ID_RE)
            if id_m is None:
                raise ValueError("inline image: BI without ID")
            header = (b"<< /Subtype /Image "
                      + _expand_inline_dict(stream[m.end():id_m.start()])
                      + b" >>")
            data_start = id_m.end() + 1  # ID + exactly one whitespace
            length = _int_after(header, b"/Length")
            if length is not None:
                if data_start + length > len(stream):
                    raise ValueError("inline image: /L beyond stream")
                payload = stream[data_start:data_start + length]
                pos = data_start + length
            else:
                e = _EI_RE.search(stream, data_start)
                if e is None:
                    raise ValueError("inline image: ID without EI")
                payload = stream[data_start:e.start()]
                pos = e.end()
            if b"/ASCIIHexDecode" in header:
                hx = re.sub(rb"[^0-9A-Fa-f]", b"", payload.rstrip(b">"))
                if len(hx) % 2:
                    hx += b"0"
                payload = bytes.fromhex(hx.decode("latin-1"))
            if b"/FlateDecode" in header:
                import zlib
                try:
                    payload = zlib.decompress(payload)
                except zlib.error as exc:
                    raise ValueError(
                        f"inline image: bad Flate payload: {exc}") from exc
            out.append((header, payload))
    return out


def pdf_to_pages_with_bboxes(data, start: int = 0):
    """PDF bytes → [(page, markdown, word_bboxes)] where word_bboxes is
    [(word, (x0, top, x1, bottom))] normalized to [0,1] by page dims —
    the reference's per-page bbox side-channel
    (``static_parser.py:450-458`` normalize_bbox, ``:711-718`` segments
    with "bboxes")."""
    if data is None:
        return []
    data = bytes(data)
    uri_rects = get_uri_rects(data)
    out = []
    for idx, page in enumerate(parse_pdf(data)):
        content, bboxes = process_page(page, uri_rects)
        out.append((start + idx + 1, content, bboxes))
    return out


def sniff_doctype(payload) -> str:
    """Magic-byte doctype sniff (S1/P1 analogue, utils.py:60-62 upgraded).

    Returns one of: pdf, zip (OPC containers: docx/xlsx/pptx), image
    (PNG/JPEG/GIF or the FAKE container → OCR arm), html, csv, txt.
    """
    if payload is None:
        return "txt"
    b = bytes(payload[:512])
    if b.startswith(b"%PDF-"):
        return "pdf"
    if b.startswith(b"PK\x03\x04"):
        return "zip"
    if b.startswith((b"IMG!", b"\x89PNG", b"\xff\xd8\xff", b"GIF8",
                 b"\x00\x00\x00\x0cjP  ", b"\xff\x4f",
                 b"II*\x00", b"MM\x00*")):
        return "image"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "image"
    if b[:2] == b"BM" and len(b) >= 18 and int.from_bytes(
            b[14:18], "little") in (40, 52, 56, 108, 124):
        # BMP needs the DIB-header-size check: 'BM' alone is a
        # plausible text prefix ("BM industries,…" would misroute)
        return "image"
    if b.startswith((b"\xff\xfe", b"\xfe\xff", b"\x00\x00\xfe\xff")):
        # UTF-16/32 BOM: run the text probes on the DECODED head (the
        # raw bytes interleave NULs, so byte-level probes can't fire).
        # The 4-byte UTF-32 BOMs must win over the 2-byte UTF-16 ones
        # (FF FE 00 00 starts with FF FE) — same ordering as
        # text_ops.decode_payload's _BOMS table.
        if b.startswith((b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff")):
            s = b.decode("utf-32", errors="ignore")
        else:
            s = b.decode("utf-16", errors="ignore")
        slow = s.lstrip().lower()
        if (slow.startswith(("<!doctype", "<html", "<head", "<body"))
                or "<html" in slow):
            return "html"
        shead = s.split("\n", 1)[0]
        if "," in shead and "<" not in shead:
            return "csv"
        return "txt"
    if b.startswith(b"{\\rtf"):
        # RTF is text (the txt arm parses it); its first line often
        # holds a comma and no '<', which would otherwise read as csv
        return "txt"
    low = b.lstrip().lower()
    if low.startswith((b"<!doctype", b"<html", b"<head", b"<body")) or b"<html" in low:
        return "html"
    head = b.split(b"\n", 1)[0]
    if b"," in head and b"<" not in head:
        return "csv"
    return "txt"


def pdf_flags(payload) -> Tuple[bool, bool]:
    """(has_image, has_hyperlink) byte scans — exactly the reference's
    has_image_in_pdf / has_hyperlink_in_pdf (utils.py:467-481): split
    str(bytes) on "/", strip each element, membership-test the bare
    keyword."""
    if payload is None:
        return (False, False)
    parts = [x.strip() for x in str(bytes(payload)).lower().split("/")]
    return ("image" in parts, "uri" in parts)
