"""Regenerate the frozen per-url reference digests in ``refs/``.

    python3 perfbench/freeze_refs.py [cc_html|mixed ...]

Runs ``extract()`` over each corpus's whole universe (every window any
seed can pick) and stores ``{url: digest}``, with the digests the
benchmark's check computes (``workloads.digest_extracted`` /
``digest_errors``). The references are frozen on purpose: a later
kernel change that alters output bytes shows up as ``match_frac < 1``
instead of being absorbed by a reference recomputed at run time. Only
regenerate them for a change that is meant to alter output, and say so.
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def freeze(kind: str, work: str) -> dict:
    from lexoid_spark.plans.extract import extract
    from perfbench import harness
    from perfbench.corpus import SPECS, write_pages
    from perfbench.workloads import REFS, digest_errors, digest_extracted

    universe = SPECS[kind][1]
    pages_dir = os.path.join(work, "freeze", kind)
    write_pages(kind, range(universe), pages_dir, 8 * harness.slots())
    spark = harness.start_spark(work, f"perfbench_freeze_{kind}")
    out = extract(spark.read.parquet(pages_dir), run_id="freeze")
    rows = (digest_extracted(out["extracted"])
            .unionByName(digest_errors(out["errors"])).collect())
    spark.stop()
    docs = {r.url: r.d for r in rows}
    if len(docs) != len(rows) or len(docs) != universe:
        raise SystemExit(f"{kind}: {len(rows)} output rows for "
                         f"{universe} docs")
    summary = {"kind": kind, "universe": universe,
               "quarantined": sum(d.startswith("!") for d in docs.values())}
    os.makedirs(REFS, exist_ok=True)
    with gzip.GzipFile(os.path.join(REFS, f"{kind}.json.gz"), "wb",
                       mtime=0) as f:
        f.write(json.dumps({**summary, "docs": dict(sorted(docs.items()))},
                           indent=0).encode())
    return summary


def main() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(HERE, "_work")
    harness.configure_env(ROOT, work)
    harness.adopt_orphans()
    try:
        for kind in sys.argv[1:] or ["cc_html", "mixed"]:
            print(json.dumps(freeze(kind, work)), flush=True)
    finally:
        harness.end_processes()


if __name__ == "__main__":
    main()
