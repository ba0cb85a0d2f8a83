"""Kill/resume exactness (SURVEY.md §5.2(4), north_rule resumability).

Run the bucketed job, kill it after k buckets (max_buckets=k), resume,
and assert: no bucket processed twice, no progress-row duplicates, and
the final extracted table is byte-identical to a single-shot run. Also
pinned: the dispatch kernel runs once per input doc across kill +
resume, ``extracted/`` and ``errors/`` partition the input exactly,
empty buckets still get their progress row, and the job releases every
frame it persists, also when a write fails.
"""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import lexoid_spark.plans.extract as extract_mod
from lexoid_spark.corpus.gen import PAGES_SCHEMA_DDL, pages_df
from lexoid_spark.kernels.warc import build_record
from lexoid_spark.operators.progress import (
    pending_buckets,
    read_progress,
    with_bucket,
)
from lexoid_spark.plans.extract import extract
from lexoid_spark.plans.job import read_extracted, run_extract_job

N_DOCS = 48
N_BUCKETS = 8

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pages_df(spark, N_DOCS, p_giant=0.05).write.parquet(p)
    return p


def _canon_rows(df):
    return sorted(
        (r["url"], r["raw"], r["parser_used"]) for r in df.collect()
    )


def test_kill_then_resume_byte_identical(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")

    r1 = run_extract_job(spark, pages_path, out, run_id="r1",
                         n_buckets=N_BUCKETS, group_size=3, max_buckets=3)
    assert len(r1.buckets_done) == 3
    pend = pending_buckets(spark, N_BUCKETS,
                           os.path.join(out, "progress"), "r1")
    assert len(pend) == N_BUCKETS - 3
    assert set(pend).isdisjoint(r1.buckets_done)

    r2 = run_extract_job(spark, pages_path, out, run_id="r1",
                         n_buckets=N_BUCKETS, group_size=3)
    assert r2.buckets_skipped == 3
    assert set(r2.buckets_done) == set(pend)

    prog = read_progress(spark, os.path.join(out, "progress"))
    assert prog.count() == N_BUCKETS
    assert prog.select("bucket").distinct().count() == N_BUCKETS

    resumed = read_extracted(spark, out)
    single = extract(spark.read.parquet(pages_path), run_id="oneshot")[
        "extracted"
    ]
    assert _canon_rows(resumed) == _canon_rows(single)
    assert resumed.count() == resumed.select("url").distinct().count()


def test_rerun_completed_job_is_noop(spark, pages_path, tmp_path):
    out = str(tmp_path / "out2")
    run_extract_job(spark, pages_path, out, run_id="r1", n_buckets=4)
    r = run_extract_job(spark, pages_path, out, run_id="r1", n_buckets=4)
    assert r.buckets_done == [] and r.buckets_skipped == 4
    prog = read_progress(spark, os.path.join(out, "progress"))
    assert prog.count() == 4


def test_lineage_rows_written(spark, pages_path, tmp_path):
    out = str(tmp_path / "out3")
    res = run_extract_job(spark, pages_path, out, run_id="r1", n_buckets=4)
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.count() >= 1
    got = lin.agg(F.sum("n_docs")).collect()[0][0]
    assert got == res.n_docs == N_DOCS


def _counting(acc):
    """Wrap ``make_extract_doc_map`` so every row entering the dispatch
    kernel adds 1 to the accumulator ``acc``."""
    factory = extract_mod.make_extract_doc_map

    def make(*a, **kw):
        kernel = factory(*a, **kw)

        def counted(batches):
            def tap():
                for b in batches:
                    acc.add(len(b))
                    yield b
            yield from kernel(tap())
        return counted
    return make


def test_kernel_runs_once_per_doc(spark, pages_path, tmp_path, monkeypatch):
    acc = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(extract_mod, "make_extract_doc_map", _counting(acc))
    out = str(tmp_path / "out")
    kw = dict(run_id="r1", n_buckets=N_BUCKETS, group_size=3)
    run_extract_job(spark, pages_path, out, max_buckets=3, **kw)
    run_extract_job(spark, pages_path, out, **kw)
    assert acc.value == N_DOCS


def _urls(spark, path):
    return [r["url"] for r in spark.read.parquet(path).select("url").collect()]


def test_extracted_and_errors_partition_input(spark, tmp_path):
    # a zip-magic payload that is not a valid OPC container → quarantine
    bad = b"PK\x03\x04not actually a zip"
    rows = [(f"http://p.test/ok{i}", None,
             b"<html><body><p>page %d</p></body></html>" % i, "x", "en")
            for i in range(12)]
    rows += [(f"http://p.test/bad{i}", None, bad, "x", "en")
             for i in range(6)]
    inp = str(tmp_path / "pages")
    spark.createDataFrame(rows, PAGES_SCHEMA_DDL).write.parquet(inp)
    out = str(tmp_path / "out")
    kw = dict(run_id="r1", n_buckets=4, group_size=2)
    run_extract_job(spark, inp, out, max_buckets=2, **kw)
    run_extract_job(spark, inp, out, **kw)

    ext = _urls(spark, os.path.join(out, "extracted"))
    err = _urls(spark, os.path.join(out, "errors"))
    assert sorted(ext + err) == sorted(r[0] for r in rows)
    assert set(err) == {r[0] for r in rows if r[2] == bad}

    ext_by_bucket = {
        r["bucket"]: r["count"] for r in spark.read.parquet(
            os.path.join(out, "extracted")).groupBy("bucket").count().collect()
    }
    prog = {r["bucket"]: r["n_docs"]
            for r in read_progress(spark, os.path.join(out, "progress"))
            .collect()}
    assert sum(prog.values()) == len(ext)
    assert {b: n for b, n in prog.items() if n} == ext_by_bucket


def test_empty_bucket_gets_progress_row(spark, tmp_path):
    n_buckets, group_size = 8, 2
    rows = [(f"http://e.test/{i}", None,
             b"<html><body><p>doc %d</p></body></html>" % i, "x", "en")
            for i in range(3)]
    inp = str(tmp_path / "pages")
    df = spark.createDataFrame(rows, PAGES_SCHEMA_DDL)
    df.write.parquet(inp)
    per_bucket = {
        r["bucket"]: r["count"]
        for r in with_bucket(df, n_buckets).groupBy("bucket").count().collect()
    }
    # precondition on the url hashes: some group pairs an empty bucket
    # with a non-empty one, and some group is empty altogether
    groups = [range(g, g + group_size) for g in range(0, n_buckets,
                                                       group_size)]
    filled = [sum(b in per_bucket for b in g) for g in groups]
    assert 1 in filled and 0 in filled

    out = str(tmp_path / "out")
    res = run_extract_job(spark, inp, out, run_id="r1",
                          n_buckets=n_buckets, group_size=group_size)
    assert sorted(res.buckets_done) == list(range(n_buckets))
    assert res.n_docs == 3
    prog = read_progress(spark, os.path.join(out, "progress")).collect()
    assert sorted(r["bucket"] for r in prog) == list(range(n_buckets))
    assert {r["bucket"]: r["n_docs"] for r in prog} == {
        b: per_bucket.get(b, 0) for b in range(n_buckets)}


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("input_format", ["pages", "warc"])
def test_pinned_frames_released(spark, pages_path, tmp_path, input_format):
    if input_format == "warc":
        blob = b"".join(
            build_record("response", f"https://w.test/{i}",
                         "2024-01-01T00:00:00Z",
                         b"HTTP/1.1 200 OK\r\n\r\n<html><body><p>w %d</p>"
                         b"</body></html>" % i)
            for i in range(4)
        )
        inp = str(tmp_path / "warc_blobs")
        spark.createDataFrame([(0, blob), (1, b"WARC/1.0\r\nbroken")],
                              "id long, data binary").write.parquet(inp)
    else:
        inp = pages_path
    kw = dict(run_id="r1", n_buckets=4, group_size=2,
              input_format=input_format)
    spark.catalog.clearCache()

    run_extract_job(spark, inp, str(tmp_path / "ok"), **kw)
    assert _cache_empty(spark)

    # a regular file where the extracted/ directory must go fails the
    # first group's data write
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "extracted").write_bytes(b"not a directory")
    with pytest.raises(Exception):
        run_extract_job(spark, inp, str(broken), **kw)
    assert _cache_empty(spark)


def test_spark_submit_py_files_ship(tmp_path):
    """The north_rule ship vehicle end-to-end: build the zip, launch via
    spark-submit --py-files, assert the job completes and reports docs."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "lexoid_spark.zip"))

    pages_p = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "out")
    gen = (
        "from lexoid_spark.session import get_spark\n"
        "from lexoid_spark.corpus.gen import pages_df\n"
        "s = get_spark('gen', cores=2, shuffle_partitions=4)\n"
        f"pages_df(s, 12).write.parquet({pages_p!r})\n"
        "s.stop()\n"
    )
    subprocess.run([sys.executable, "-c", gen], check=True, cwd=ROOT,
                   timeout=300)

    spark_submit = os.path.join(
        os.path.dirname(os.path.abspath(__import__("pyspark").__file__)),
        "bin", "spark-submit",
    )
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(ROOT, "jobs", "extract_job.py"),
         "--input", pages_p, "--output", out,
         "--n-buckets", "4", "--run-id", "ship"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),  # not the repo root: forces import from the zip
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    import json
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["n_docs"] == 12
    assert sorted(report["buckets_done"]) == [0, 1, 2, 3]
