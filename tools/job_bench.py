"""spark-submit job docs/s next to in-process ``extract()`` docs/s.

Builds ``lexoid_spark.zip`` (tools/build_pyfiles.py), writes a
``pages_df`` corpus, then over that one corpus measures

- ``extract_docs_per_s``: in-process ``extract()``'s ``docs`` frame
  into a noop sink (the dispatch kernel once per doc), after one warm
  pass, median of the timed passes;
- ``job_docs_per_s``: ``spark-submit --py-files lexoid_spark.zip
  jobs/extract_job.py`` over the corpus (all four tables written), wall
  from launch to exit, median of the runs; ``job_launch_s`` is the same
  command with ``--max-buckets 0`` (JVM launch, session, resume check,
  teardown) and ``job_net_docs_per_s`` divides by the difference;
- ``phases``: the median job run's wall split into slices read from its
  Spark event log (:func:`phase_split`): ``launch_s`` (process start to
  the application's start), ``setup_s`` (to the first group's data
  write: imports, session, resume check, the cold plan build), per
  bucket group ``plan_build_s`` (the driver gap before its data write),
  ``kernel_write_s`` (the ``extracted/`` write, inside which the
  dispatch kernel runs), ``errors_write_s``, ``lineage_s``,
  ``commit_s`` (the ``progress/`` append), ``other_s`` (any other SQL
  execution) and ``driver_gap_s`` (the rest of the group), then
  ``teardown_s``. Time when two executions overlap is split evenly
  between them (``overlap_s`` reports how much overlapped), so the
  slices sum to the wall time (``sum_s`` beside ``wall_s``).

The job gets the session settings of ``session.get_spark`` as
``--conf`` flags and runs with the working directory outside the repo,
so it imports lexoid_spark from the zip as a cluster would. Prints one
JSON line::

    python tools/job_bench.py [--docs 400] [--cores 3] [--runs 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# session settings forwarded to spark-submit (everything else that
# get_spark sets is a default of local mode or a driver-JVM flag)
_FORWARDED = ("spark.sql.", "spark.locality.wait", "spark.ui.enabled")


def _submit_cmd(cores, confs, driver_memory, zip_path, pages, out, extra):
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    cmd = [submit, "--master", f"local[{cores}]",
           "--driver-memory", driver_memory, "--py-files", zip_path]
    for k, v in confs:
        cmd += ["--conf", f"{k}={v}"]
    return cmd + [os.path.join(ROOT, "jobs", "extract_job.py"),
                  "--input", pages, "--output", out,
                  "--n-buckets", "4", "--run-id", "bench"] + extra


def _timed_submit(cmd, work):
    """Run ``cmd``; return (wall s, its JSON report, start and end as
    epoch seconds)."""
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    start = time.time()
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                          cwd=work, timeout=1800)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr[-3000:])
    return (wall, json.loads(proc.stdout.strip().splitlines()[-1]),
            start, start + wall)


def _table(plan: str) -> str:
    """What a job SQL execution does, from its physical plan: the output
    table of a parquet write, else ``lineage`` for the lineage
    aggregate, else ``other``."""
    m = re.search(r"Execute InsertIntoHadoopFsRelationCommand\n.*\n"
                  r"Arguments: file:\S*/([^/,\s]+), ", plan)
    if m:
        return m.group(1)
    return "lineage" if "spark_partition_id" in plan.lower() else "other"


_SLICE = {"extracted": "kernel_write_s", "errors": "errors_write_s",
          "lineage": "lineage_s", "progress": "commit_s"}


def phase_split(event_log: str, start: float, end: float) -> dict:
    """Split one job run's wall time ``[start, end]`` (epoch seconds)
    into the slices the module docstring lists, from its event log."""
    app_start, execs = start, {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"] / 1e3
            elif kind.endswith("SQLExecutionStart"):
                if ev.get("rootExecutionId", ev["executionId"]) == \
                        ev["executionId"]:
                    execs[ev["executionId"]] = [
                        ev["time"] / 1e3, None,
                        _table(ev.get("physicalPlanDescription", ""))]
            elif kind.endswith("SQLExecutionEnd"):
                if ev["executionId"] in execs:
                    execs[ev["executionId"]][1] = ev["time"] / 1e3
    spans = sorted((s, e, t) for s, e, t in execs.values() if e is not None)
    data = [s for s, _, t in spans if t == "extracted"]
    commits = [e for _, e, t in spans if t == "progress"]
    out = {"wall_s": end - start, "launch_s": app_start - start,
           "setup_s": (data[0] if data else end) - app_start}
    groups = []
    # group g runs from the previous commit's end to its own commit's end
    bounds = data[:1] + commits
    for lo, hi in zip(bounds, bounds[1:]):
        nxt = min([s for s in data if s >= lo] + [hi])
        g = dict.fromkeys(("plan_build_s", "kernel_write_s",
                           "errors_write_s", "lineage_s", "commit_s",
                           "other_s", "driver_gap_s", "overlap_s"), 0.0)
        g["plan_build_s"] = nxt - lo
        cuts = sorted({nxt, hi} | {x for s, e, _ in spans
                                   for x in (s, e) if nxt < x < hi})
        for a, b in zip(cuts, cuts[1:]):
            live = [t for s, e, t in spans if s <= a and e >= b]
            if not live:
                g["driver_gap_s"] += b - a
            if len(live) > 1:
                g["overlap_s"] += b - a
            for t in live:
                g[_SLICE.get(t, "other_s")] += (b - a) / len(live)
        groups.append({k: round(v, 3) for k, v in g.items()})
    out["groups"] = groups
    out["teardown_s"] = end - (commits[-1] if groups else
                               app_start + out["setup_s"])
    out["sum_s"] = (out["launch_s"] + out["setup_s"] + out["teardown_s"]
                    + sum(v for g in groups for k, v in g.items()
                          if k != "overlap_s"))
    return {k: (round(v, 3) if isinstance(v, float) else v)
            for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=400)
    ap.add_argument("--cores", type=int,
                    default=max((os.cpu_count() or 2) - 1, 1))
    ap.add_argument("--runs", type=int, default=3,
                    help="timed passes / spark-submit runs per measurement")
    args = ap.parse_args()

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from build_pyfiles import build

    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract
    from lexoid_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="job_bench_")
    try:
        zip_path = build(os.path.join(work, "lexoid_spark.zip"))
        pages = os.path.join(work, "pages")
        # the in-process workers import lexoid_spark from this checkout
        spark = get_spark("job_bench", cores=args.cores, extra_conf={
            "spark.executorEnv.PYTHONPATH": ROOT})
        try:
            pages_df(spark, args.docs).write.parquet(pages)
            conf = spark.sparkContext.getConf()
            confs = sorted((k, v) for k, v in conf.getAll()
                           if k.startswith(_FORWARDED))
            driver_memory = conf.get("spark.driver.memory")
            passes = []
            for i in range(args.runs + 1):
                t0 = time.perf_counter()
                extract(spark.read.parquet(pages))["docs"].write.format(
                    "noop").mode("overwrite").save()
                if i:  # the first pass warms the JVM and the workers
                    passes.append(time.perf_counter() - t0)
        finally:
            spark.stop()

        runs, launches, splits, n_docs = [], [], [], 0
        def submit(name, extra):
            """One job run with its own event log; (wall, report, the
            run's phase split)."""
            log_dir = os.path.join(work, "eventlog-" + name)
            os.makedirs(log_dir)
            wall, report, start, end = _timed_submit(_submit_cmd(
                args.cores, confs + [
                    ("spark.eventLog.enabled", "true"),
                    ("spark.eventLog.dir", "file://" + log_dir),
                    ("spark.eventLog.compress", "false"),
                    ("spark.eventLog.rolling.enabled", "false")],
                driver_memory, zip_path, pages, os.path.join(work, name),
                extra), work)
            return wall, report, phase_split(
                glob.glob(os.path.join(log_dir, "*"))[0], start, end)

        runs, launches, splits, n_docs = [], [], [], 0
        for i in range(args.runs):
            wall, report, split = submit(f"out{i}", [])
            runs.append(wall)
            splits.append(split)
            n_docs = report["n_docs"]
            launches.append(submit(f"empty{i}", ["--max-buckets", "0"])[0])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    extract_s = statistics.median(passes)
    job_s = statistics.median(runs)
    launch_s = statistics.median(launches)
    print(json.dumps({
        "docs": args.docs,
        "cores": args.cores,
        "extract_s": round(extract_s, 3),
        "extract_docs_per_s": round(args.docs / extract_s, 1),
        "job_n_docs": n_docs,
        "job_s": round(job_s, 3),
        "job_launch_s": round(launch_s, 3),
        "job_docs_per_s": round(n_docs / job_s, 1),
        "job_net_docs_per_s": round(n_docs / max(job_s - launch_s, 1e-9), 1),
        # the split of the run nearest the median
        "phases": splits[min(range(len(runs)),
                             key=lambda i: abs(runs[i] - job_s))],
    }))


if __name__ == "__main__":
    main()
