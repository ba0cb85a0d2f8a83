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
  teardown) and ``job_net_docs_per_s`` divides by the difference.

The job gets the session settings of ``session.get_spark`` as
``--conf`` flags and runs with the working directory outside the repo,
so it imports lexoid_spark from the zip as a cluster would. Prints one
JSON line::

    python tools/job_bench.py [--docs 400] [--cores 3] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
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
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                          cwd=work, timeout=1800)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr[-3000:])
    return wall, json.loads(proc.stdout.strip().splitlines()[-1])


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

        runs, launches, n_docs = [], [], 0
        for i in range(args.runs):
            out = os.path.join(work, f"out{i}")
            wall, report = _timed_submit(_submit_cmd(
                args.cores, confs, driver_memory, zip_path, pages, out, []),
                work)
            runs.append(wall)
            n_docs = report["n_docs"]
            wall, _ = _timed_submit(_submit_cmd(
                args.cores, confs, driver_memory, zip_path, pages,
                os.path.join(work, f"empty{i}"), ["--max-buckets", "0"]),
                work)
            launches.append(wall)
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
    }))


if __name__ == "__main__":
    main()
