"""Deterministic glyph-template OCR over REAL pixels (P5).

Reference behavior being matched: ``parse_with_paddleocr``
(``lexoid/core/parse_type/static_parser.py:751-818``) recognizes text
from rendered page images and joins the recognized words with spaces.
The sandbox ships no OCR model, so recognition here is a
deterministic nearest-template matcher over a fixed bitmap font:
images rendered with ``render_text`` / ``render_text_png`` (the
corpus "scanned page" fixture class) decode through the repo's own
from-scratch codecs (PNG inflate+unfilter, GIF LZW, JPEG huffman+
IDCT) and come back out as the exact original string. This is real
OCR *plumbing* — pixel decode, binarization, line banding, glyph
segmentation, template scoring, word-box emission — with a closed
glyph set instead of a neural recognizer.

Font: mixed case A-Z/a-z, digits, and common punctuation on a 7-row
grid with VARIABLE glyph widths (1-5 columns). Ascenders/descenders
and x-height shapes live inside the 7 rows; every glyph is a single
column run (no internal blank column), so one glyph = one run.

Classification is nearest-template under Hamming distance with a
confidence gate: a glyph is accepted only when the best template is
within ``MAX_DIST`` cells AND beats the runner-up by ``MARGIN``
cells. Any noise of fewer than ``MARGIN`` flipped cells therefore can
NEVER produce a wrong character (a wrong winner would need
``dist(true) >= dist(wrong) + MARGIN``): light noise either reads
correctly or quarantines, heavy noise always quarantines — the
never-silently-wrong property, now with tolerance instead of
exact-match brittleness.

Geometry invariants the recognizer relies on (asserted at import so a
font edit can never silently break them):

* every glyph's maximal ink-run lengths (along rows and columns) have
  gcd 1, so the global gcd of ALL ink runs in a rendered image equals
  the integer render scale — scale detection needs no metadata;
* no internal blank column (one glyph = one column run) and no
  internal blank-row gap > 4, and every glyph touches some row in
  1..5, so with the renderer's 5-cell line gap, row-projection bands
  merged across gaps <= 4*scale reconstruct lines unambiguously;
* per width class, pairwise template distance >= 2 (no duplicates).

Rendering uses 1-cell blank columns between letters and a 5-cell
blank for the space character, making the inter-word gap >= 7*scale —
the recognizer splits words on gaps > 3*scale.
"""

from __future__ import annotations

from math import gcd
from typing import Dict, List, Tuple

import numpy as np

WordBox = Tuple[str, Tuple[float, float, float, float]]

GLYPH_H = 7
GLYPH_W = 5  # maximum width (uppercase/digit grid); real widths vary

# accept a glyph iff best-template distance <= MAX_DIST and the
# runner-up is at least MARGIN cells further — see module docstring
MAX_DIST = 2
MARGIN = 2

_RAW_FONT = {
    "A": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "B": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "C": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "D": ("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    "E": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "F": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "G": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."),
    "H": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "I": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "#####"),
    "J": ("#####", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "K": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "L": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "M": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "N": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "O": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "P": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "Q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "R": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "S": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "T": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "U": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "V": ("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "W": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "X": ("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    "Y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "Z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", "#####"),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": ("####.", "....#", "....#", ".###.", "....#", "....#", "####."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "#....", "####.", "....#", "....#", "####."),
    "6": (".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", "..#..", "..#..", "..#.."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."),
    # --- lowercase (x-height rows 2-6; ascenders use rows 0-1;
    #     descender shapes folded into the 7-row cell) ---
    "a": (".....", ".....", ".###.", "....#", ".####", "#...#", ".####"),
    "b": ("#....", "#....", "####.", "#...#", "#...#", "#...#", "####."),
    "c": (".....", ".....", ".####", "#....", "#....", "#....", ".####"),
    "d": ("....#", "....#", ".####", "#...#", "#...#", "#...#", ".####"),
    "e": (".....", ".....", ".###.", "#...#", "#####", "#....", ".###."),
    "f": ("..##", ".#..", "####", ".#..", ".#..", ".#..", ".#.."),
    "g": (".....", ".....", ".####", "#...#", ".####", "....#", ".###."),
    "h": ("#....", "#....", "####.", "#...#", "#...#", "#...#", "#...#"),
    "i": ("#", ".", "#", "#", "#", "#", "#"),
    "j": ("..#", "...", "..#", "..#", "..#", "..#", "##."),
    "k": ("#...", "#...", "#..#", "#.#.", "##..", "#.#.", "#..#"),
    "l": ("#.", "#.", "#.", "#.", "#.", "#.", "##"),
    "m": (".....", ".....", "####.", "#.#.#", "#.#.#", "#.#.#", "#.#.#"),
    "n": (".....", ".....", "####.", "#...#", "#...#", "#...#", "#...#"),
    "o": (".....", ".....", ".###.", "#...#", "#...#", "#...#", ".###."),
    "p": (".....", ".....", "####.", "#...#", "####.", "#....", "#...."),
    "q": (".....", ".....", ".####", "#...#", ".####", "....#", "....#"),
    "r": (".....", ".....", "#.##.", "##..#", "#....", "#....", "#...."),
    "s": (".....", ".....", ".####", "#....", ".###.", "....#", "####."),
    "t": (".#..", ".#..", "####", ".#..", ".#..", ".#..", "..##"),
    "u": (".....", ".....", "#...#", "#...#", "#...#", "#...#", ".####"),
    "v": (".....", ".....", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "w": (".....", ".....", "#...#", "#...#", "#.#.#", "#.#.#", ".#.#."),
    "x": (".....", ".....", "#...#", ".#.#.", "..#..", ".#.#.", "#...#"),
    "y": (".....", ".....", "#...#", "#...#", ".####", "....#", ".###."),
    "z": (".....", ".....", "#####", "...#.", "..#..", ".#...", "#####"),
    # --- punctuation ---
    ".": (".", ".", ".", ".", ".", "#", "#"),
    ",": ("..", "..", "..", "..", "..", ".#", "#."),
    ":": ("#", "#", ".", ".", "#", "#", "."),
    ";": ("##", "..", "..", "..", "..", ".#", "#."),
    "!": ("#", "#", "#", "#", ".", "#", "#"),
    "?": (".###.", "#...#", "....#", "...#.", "..#..", ".....", "..#.."),
    "'": ("#.", ".#", "..", "..", "..", "..", ".."),
    '"': ("##", "##", "#.", "..", "..", "..", ".."),
    "-": ("....", "....", "....", "####", "....", "....", "...."),
    "+": ("...", ".#.", ".#.", "###", ".#.", ".#.", "..."),
    "=": ("....", "....", "####", "....", "####", "....", "...."),
    "(": (".#", "#.", "#.", "#.", "#.", "#.", ".#"),
    ")": ("#.", ".#", ".#", ".#", ".#", ".#", "#."),
    "/": ("....#", "...#.", "...#.", "..#..", ".#...", ".#...", "#...."),
    "%": ("##..#", "##.#.", "...#.", "..#..", ".#...", ".#.##", "#..##"),
    "&": (".##..", "#..#.", "#.#..", ".#...", "#.#.#", "#..#.", ".##.#"),
    "*": (".....", "#.#.#", ".###.", "#####", ".###.", "#.#.#", "....."),
    "#": (".#.#.", ".#.#.", "#####", ".#.#.", "#####", ".#.#.", ".#.#."),
    "$": ("..#..", ".####", "#.#..", ".###.", "..#.#", "####.", "..#.."),
    "@": (".###.", "#...#", "#.###", "#.#.#", "#.###", "#....", ".###."),
}


def _bitmap(rows: Tuple[str, ...]) -> np.ndarray:
    return np.array([[c == "#" for c in r] for r in rows], dtype=bool)


FONT: Dict[str, np.ndarray] = {ch: _bitmap(r) for ch, r in _RAW_FONT.items()}


def _ink_runs(bm: np.ndarray) -> List[int]:
    """Maximal ink-run lengths along every row and every column."""
    runs: List[int] = []
    for axis_arr in (bm, bm.T):
        for line in axis_arr:
            d = np.flatnonzero(np.diff(np.r_[False, line, False]))
            runs.extend((d[1::2] - d[::2]).tolist())
    return runs


def _check_font() -> Dict[int, List[Tuple[str, np.ndarray]]]:
    """Import-time geometry invariants (module docstring) + the
    width-class index used for classification."""
    by_width: Dict[int, List[Tuple[str, np.ndarray]]] = {}
    for ch, bm in FONT.items():
        assert bm.shape[0] == GLYPH_H, f"{ch!r}: not 7 rows"
        w = bm.shape[1]
        assert 1 <= w <= GLYPH_W, f"{ch!r}: bad width {w}"
        assert bm.any(), f"{ch!r}: blank glyph"
        assert bm.any(axis=0).all(), f"{ch!r}: internal blank column"
        rows = np.flatnonzero(bm.any(axis=1))
        assert rows[0] <= 5 and rows[-1] >= 1, f"{ch!r}: single-edge-row ink"
        gaps = np.diff(rows) - 1
        assert (gaps <= 4).all(), f"{ch!r}: blank-row gap > 4"
        g = 0
        for r in _ink_runs(bm):
            g = gcd(g, r)
        assert g == 1, f"{ch!r}: ink-run gcd {g} breaks scale detection"
        by_width.setdefault(w, []).append((ch, bm))
    # no same-width pair may come within Hamming distance 2 under ANY
    # in-cell vertical shift: the line-offset search reads a glyph
    # through every feasible cell alignment, so a near-translate pair
    # ('.' vs an apostrophe drawn as its shift) would let light noise
    # trade a correct read at the true offset for a wrong read at a
    # shifted one. With min shifted distance >= 2 plus the strict-win
    # offset rule, sub-MARGIN noise still can never read WRONG.
    for w, entries in by_width.items():
        for i, (ca, ba) in enumerate(entries):
            for cb, bb in entries[i + 1:]:
                rows_a = np.flatnonzero(ba.any(axis=1))
                for k in range(-int(rows_a[0]),
                               GLYPH_H - int(rows_a[-1])):
                    shifted = np.roll(ba, k, axis=0)
                    d = int((shifted ^ bb).sum())
                    assert d >= 2, (f"font clash: {ca!r} shifted {k} vs "
                                    f"{cb!r} (dist {d})")
    return by_width


# width → (chars, stacked (n, 7, w) template tensor) for vectorized
# Hamming scoring
_BY_WIDTH: Dict[int, Tuple[List[str], np.ndarray]] = {
    w: ([ch for ch, _ in entries],
        np.stack([bm for _, bm in entries]))
    for w, entries in _check_font().items()
}

_LINE_GAP = 5  # blank cells between lines (> max in-cell row gap 4)
_SPACE_W = 5   # blank cells for the space character


def render_text(text: str, scale: int = 2,
                margin: int | None = None) -> np.ndarray:
    """Render font text (mixed case, digits, punctuation, space,
    newline) to a grayscale uint8 image: black ink on white,
    ``scale`` pixels per font cell, 1-cell letter gaps, 5-cell line
    gaps. Raises ValueError for characters outside the glyph set."""
    if margin is None:
        margin = 2 * scale
    lines = text.split("\n")
    line_bitmaps: List[np.ndarray] = []
    for line in lines:
        cols: List[np.ndarray] = []
        for ch in line:
            if ch == " ":
                cols.append(np.zeros((GLYPH_H, _SPACE_W), dtype=bool))
            else:
                bm = FONT.get(ch)
                if bm is None:
                    raise ValueError(f"glyph font has no {ch!r}")
                cols.append(bm)
            cols.append(np.zeros((GLYPH_H, 1), dtype=bool))  # letter gap
        if cols:
            cols.pop()  # no trailing gap
        row = (np.concatenate(cols, axis=1) if cols
               else np.zeros((GLYPH_H, 1), dtype=bool))
        line_bitmaps.append(row)
    width = max(bm.shape[1] for bm in line_bitmaps)
    stacked: List[np.ndarray] = []
    for i, bm in enumerate(line_bitmaps):
        if i:
            stacked.append(np.zeros((_LINE_GAP, width), dtype=bool))
        pad = np.zeros((GLYPH_H, width), dtype=bool)
        pad[:, :bm.shape[1]] = bm
        stacked.append(pad)
    grid = np.concatenate(stacked, axis=0)
    img = np.kron(grid, np.ones((scale, scale), dtype=bool))
    img = np.pad(img, margin, mode="constant")
    return np.where(img, 0, 255).astype(np.uint8)


def render_text_png(text: str, scale: int = 2) -> bytes:
    from lexoid_spark.kernels.png_codec import png_encode

    return png_encode(render_text(text, scale=scale)[:, :, None])


def render_text_frames(texts, even: bool = False) -> np.ndarray:
    """One ``render_text`` frame per text, padded white to a common
    H×W (``even``: H and W rounded up to even, for 4:2:0 video) →
    (k, H, W) uint8."""
    fr = [render_text(t, scale=2) for t in texts]
    H = max(a.shape[0] for a in fr)
    W = max(a.shape[1] for a in fr)
    if even:
        H += H % 2
        W += W % 2
    return np.stack([
        np.pad(a, ((0, H - a.shape[0]), (0, W - a.shape[1])),
               constant_values=255)
        for a in fr
    ])


def _to_ink(arr: np.ndarray) -> np.ndarray:
    """(H, W[, C]) uint8 → boolean ink mask (dark = ink)."""
    a = np.asarray(arr)
    if a.ndim == 3:
        a = a[:, :, :3].astype(np.uint16).mean(axis=2)
    return a < 128


def _axis_runs(a: np.ndarray) -> np.ndarray:
    """Maximal ink-run lengths along axis 1 for EVERY row at once
    (one vectorized diff instead of a Python loop per line —
    recognition is in the extraction hot path)."""
    h, w = a.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = a
    d = np.diff(padded, axis=1)
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    return ends - starts  # row-major flat indices align pairwise


def _detect_scale(ink: np.ndarray) -> int:
    """Integer render scale = gcd of every maximal ink-run length
    (both axes): each run is scale * (a cell run whose per-glyph gcd
    is 1 — asserted at import), so the gcd over any non-empty text is
    exactly the scale."""
    runs = np.concatenate([_axis_runs(ink), _axis_runs(ink.T)])
    return max(int(np.gcd.reduce(runs)), 1) if len(runs) else 1


def _cell_bits(ink: np.ndarray, r0: int, c0: int, c1: int,
               s: int, n_rows: int = GLYPH_H) -> np.ndarray:
    """Observed glyph bitmap: image rows r0..r0+n_rows*s x cols
    c0..c1, zero-filled out of bounds, block-averaged down to the
    cell grid (mean >= 0.5 — tolerant of sub-cell codec noise)."""
    h, w = ink.shape
    wc = (c1 - c0) // s
    window = np.zeros((n_rows * s, wc * s), dtype=bool)
    rr0, rr1 = max(r0, 0), min(r0 + n_rows * s, h)
    if rr1 > rr0:
        window[rr0 - r0:rr1 - r0, :] = ink[rr0:rr1, c0:c1]
    cells = window.reshape(n_rows, s, wc, s).mean(axis=(1, 3))
    return cells >= 0.5


def recognize_pixels(arr: np.ndarray) -> Tuple[str, List[WordBox]]:
    """Template-match a rendered image back to its text. Returns
    (words joined by spaces in reading order, normalized word boxes) —
    the parse_with_paddleocr output shape. Raises ValueError on ink
    that does not segment into the glyph set with confidence
    (best distance <= MAX_DIST with a MARGIN-cell lead — noise below
    MARGIN flipped cells can never read as a WRONG character)."""
    ink = _to_ink(arr)
    h, w = ink.shape
    if not ink.any():
        return "", []
    s = _detect_scale(ink)
    row_has = ink.any(axis=1)
    bounds = np.flatnonzero(np.diff(np.r_[False, row_has, False]))
    raw_bands = list(zip(bounds[::2], bounds[1::2]))
    # merge bands split by in-cell blank rows (gap <= 4s); real line
    # gaps are >= 5s by the renderer geometry
    bands: List[Tuple[int, int]] = []
    for top, bot in raw_bands:
        if bands and top - bands[-1][1] <= 4 * s:
            bands[-1] = (bands[-1][0], bot)
        else:
            bands.append((top, bot))
    words: List[str] = []
    boxes: List[WordBox] = []
    for top, bot in bands:
        if bot - top > GLYPH_H * s:
            raise ValueError("line band taller than a glyph cell "
                             "(unknown font or non-text ink)")
        band = ink[top:bot]
        col_has = band.any(axis=0)
        cbounds = np.flatnonzero(np.diff(np.r_[False, col_has, False]))
        runs = [(int(c0), int(c1))
                for c0, c1 in zip(cbounds[::2], cbounds[1::2])]
        for c0, c1 in runs:
            if (c1 - c0) % s:
                raise ValueError("glyph run width is not a scale "
                                 "multiple (unknown font or non-text ink)")
        # the band's cell-top offset is ambiguous for x-height-only
        # lines: try every feasible offset, keep the lowest-total-
        # distance interpretation (ties -> smallest offset). The
        # block-mean runs ONCE per glyph run over the full vertical
        # span; each offset is then just a 7-row slice of that cell
        # grid, scored against every template in one XOR — the
        # recognition hot path (extraction OCR arm) stays vectorized.
        max_off = GLYPH_H - -(-(bot - top) // s)  # 7 - ceil(band/s)
        n_off = max_off + 1
        off_rows = ((max_off - np.arange(n_off))[:, None]
                    + np.arange(GLYPH_H)[None, :])
        run_dists = []               # (n_off, n_templates) per run
        for c0, c1 in runs:
            wc = (c1 - c0) // s
            entry = _BY_WIDTH.get(wc)
            if entry is None:
                raise ValueError(f"no glyph template of width {wc}")
            _, templates = entry
            span = _cell_bits(ink, top - max_off * s, c0, c1, s,
                              n_rows=max_off + GLYPH_H)
            bits_all = span[off_rows]            # (n_off, 7, wc)
            run_dists.append(
                (templates[None] ^ bits_all[:, None]).sum((2, 3)))
        totals = sum(d.min(axis=1) for d in run_dists)
        best_total = int(totals.min())
        if int((totals == best_total).sum()) > 1:
            # two alignments explain the ink equally well (a line of
            # only floating punctuation, e.g. "...") — never guess
            raise ValueError("ambiguous vertical alignment for line "
                             "(floating-punctuation-only band)")
        best_off = int(np.argmin(totals))        # first minimum
        best_scored = []
        for (c0, c1), d in zip(runs, run_dists):
            chars, _ = _BY_WIDTH[(c1 - c0) // s]
            dvec = d[best_off]
            order = np.argsort(dvec, kind="stable")
            best = int(order[0])
            second = int(dvec[order[1]]) if len(order) > 1 else 10_000
            best_scored.append((chars[best], int(dvec[best]), second))
        cur: List[str] = []
        cur_x0 = None
        prev_end = None
        for (c0, c1), (ch, dist, second) in zip(runs, best_scored):
            if dist > MAX_DIST or second - dist < MARGIN:
                raise ValueError(
                    f"glyph below confidence (best {ch!r} d={dist}, "
                    f"runner-up d={second})")
            if prev_end is not None and (c0 - prev_end) > 3 * s:
                words.append("".join(cur))
                boxes.append(("".join(cur), (
                    round(cur_x0 / w, 6), round(top / h, 6),
                    round(prev_end / w, 6), round(bot / h, 6))))
                cur, cur_x0 = [], None
            if cur_x0 is None:
                cur_x0 = c0
            cur.append(ch)
            prev_end = c1
        if cur:
            words.append("".join(cur))
            boxes.append(("".join(cur), (
                round(cur_x0 / w, 6), round(top / h, 6),
                round(prev_end / w, 6), round(bot / h, 6))))
    return " ".join(words), boxes
