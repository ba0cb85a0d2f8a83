"""Benchmark entry point.

    python3 perfbench/run.py --workload cc_html --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a host-state line and the pass
times, then as the last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced run with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("cc_html", "mixed_job_resume"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, seconds: float) -> dict:
    """Set-up, timed passes and the output check, tracing off."""
    import time

    from perfbench import harness

    sampler = harness.PssSampler()   # forked before the JVM starts
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(WORK, "perfbench")
        wl.bind(spark)

        def one_pass():
            wl.reset()
            wl.run_pass()

        warm = harness.warm_up(one_pass)
        setup_s = time.perf_counter() - t0

        steal0 = harness.steal_s()
        passes = harness.timed_passes(wl.run_pass, seconds, sampler,
                                      before=wl.reset)
        times, cpus, peaks = zip(*passes)
        print("# passes " + json.dumps({
            "warm": warm, "timed": times,
            "steal_s": round(harness.steal_s() - steal0, 2),
            "sampler_cpu_s": round(sampler.cpu_s(), 2)}), flush=True)
        attempted, failed, yielded = wl.check()
    finally:
        sampler.close()
    return {
        "setup_s": setup_s,
        "docs_per_s": wl.items / harness.median(times),
        "cpu_s_per_kdoc": 1000.0 * harness.median(cpus) / wl.items,
        "peak_pss_mb": harness.median(peaks),
        "yield_frac": yielded / attempted,
        "match_frac": (attempted - failed) / attempted,
    }, attempted, failed


def declared_units(section: str) -> dict[str, str]:
    """name -> unit of the metrics ``BENCHMARK.json`` declares in
    ``section`` ("end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "lexoid_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        print("perfbench: run from the repository root (lexoid_spark/, "
              "__spark_entry__.py or BENCHMARK.json not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    harness.configure_env(ROOT, WORK)
    harness.adopt_orphans()
    # a SIGTERM ends the run through the ``finally`` below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        host = harness.host_record()
        print("# host " + json.dumps(host), flush=True)

        wl = WORKLOADS[args.workload](WORK, args.seed, 4 * harness.slots())
        wl.prepare()
        if args.trace:
            from perfbench import trace

            metrics, attempted, failed = trace.traced_run(
                wl, args.workload, WORK)
        else:
            metrics, attempted, failed = measure(wl, args.seconds)
    finally:
        # no process of the run outlives it, on any path out
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        harness.end_processes()
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        print("perfbench: measured metrics differ from BENCHMARK.json: "
              f"{sorted(set(metrics) ^ set(units))}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in sorted(metrics)},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
