"""Seeded document corpora for the two document workloads.

Both corpora are windows over a fixed universe of deterministic pages
from ``lexoid_spark.corpus.gen.gen_page_row``; the seed picks the
window. Windows start on a multiple of 150 (the least common multiple
of the 30-class cycle, the 6-class HTML cycle and the 1-in-50 giant
stride), so every seed gets the same class mix and the same number of
giant pages, and only the page contents differ.

The universe is what ``refs/`` holds frozen digests for.
"""

from __future__ import annotations

import os
import shutil

from lexoid_spark.corpus.gen import HTML_CLASSES, _html_giant, _rng, gen_page_row

STRIDE = 150
GIANT_EVERY = 50          # gen_page_row(i, 0.02) makes page i giant iff i % 50 == 7
HUGE_EVERY = 600          # cc_html: giant page k is huge iff k % 600 == 7
HUGE_REPEAT = 3000        # sections of a huge page: ~1.0-1.1 MiB
TAIL_THRESHOLD = 1 << 20  # extract()'s default giant_threshold_bytes

SPECS = {
    # name: (docs per window, universe size)
    "cc_html": (2400, 12000),      # window: a multiple of HUGE_EVERY
    "mixed": (300, 6000),
}


def window(kind: str, seed: int) -> range:
    n, universe = SPECS[kind]
    n_starts = (universe - n) // STRIDE + 1
    start = STRIDE * ((seed * 7919) % n_starts)
    return range(start, start + n)


def page_at(kind: str, k: int):
    """Pages row for universe position ``k``.

    ``mixed``: doc index k of the full 30-class mix, 2% giant tail.
    ``cc_html``: position k of an HTML-only stream — every 50th page
    (k % 50 == 7) is a giant HTML page (~150 KB; every 600th, k % 600
    == 7, a huge one above ``TAIL_THRESHOLD``), the rest walk the six
    ``HTML_CLASSES`` in order, each with its own doc index.
    """
    if kind == "mixed":
        return gen_page_row(k, 0.02)
    if k % HUGE_EVERY == 7:
        url, ts, _, text, lang = gen_page_row(k, 0.02)
        payload = _html_giant(k, _rng(k), repeat=HUGE_REPEAT)
        if len(payload) <= TAIL_THRESHOLD:
            raise ValueError(f"huge page {k} is only {len(payload)} bytes")
        return url.replace("/html_giant/", "/html_huge/"), ts, payload, \
            text, lang
    if k % GIANT_EVERY == 7:
        return gen_page_row(k, 0.02)
    n_cls = len(HTML_CLASSES)
    return gen_page_row((k // n_cls) * 30 + k % n_cls, 0.0)


def write_pages(kind: str, positions, out_dir: str, n_files: int) -> int:
    """Write the pages of ``positions`` as ``n_files`` parquet files
    (round-robin rows, so every file gets its share of giants) with an
    ``n_bytes`` column, like the repository harness's corpus. Returns
    the number of docs."""
    import pandas as pd

    rows = [page_at(kind, k) for k in positions]
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    df["n_bytes"] = df["html"].map(len).astype("int64")
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for j in range(n_files):
        df.iloc[j::n_files].to_parquet(
            os.path.join(tmp, f"part-{j:05d}.parquet"),
            index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return len(rows)


def _generator_id() -> str:
    """Short hash of the code that makes the pages, so a corpus written
    by another version of it is never reused."""
    import hashlib

    from lexoid_spark.corpus import gen

    h = hashlib.sha256()
    for path in (__file__, gen.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def corpus_dir(work: str, kind: str, seed: int, n_files: int) -> tuple[str, int]:
    """The seed's corpus under ``work``, generated once per seed."""
    positions = window(kind, seed)
    out = os.path.join(work, "corpus", f"{kind}-{positions.start}-"
                       f"{len(positions)}-{_generator_id()}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        write_pages(kind, positions, out, n_files)
        open(marker, "w").close()
    return out, len(positions)
