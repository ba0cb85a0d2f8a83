"""The workloads: inputs, one pass, and the output check.

A workload object is built once per run from (work dir, seed) and
then drives any number of Spark sessions:

* ``prepare()``      builds the seed's inputs (outside all timing);
* ``bind(spark)``    attaches a session;
* ``run_pass()``     one full pass of the workload into its sink;
* ``reset()``        untimed cleanup before a pass (job output dir);
* ``check()``        re-derives the outputs and compares them with the
                     references -> (attempted, failed, extracted).

``items`` is the number of input docs one pass processes.

``EntryMix`` is not a timed workload: the traced run of ``cc_html``
runs it to measure the ``__spark_entry__`` query tails (README "Out of
scope").
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
REFS = os.path.join(HERE, "refs")
DATA = os.path.join(HERE, "data", "sf0.01")

# query mix for the __spark_entry__ tail layer: two bounded tails, two
# per-row tails, one Python kernel, one fixture-scaffold query
ENTRY_QUERIES = (
    "q3_shipping_priority", "top_customers",
    "doc_token_stats", "sessions_closed",
    "minhash_band_pairs",
    "pdf_flate_extract",
)
ENTRY_TABLES = ("customer", "orders", "lineitem", "documents", "events")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_extracted(df):
    """(url, digest) of extracted rows: every column the extracted
    table carries, hashed in the JVM so only 16 hex chars per doc come
    back to the driver."""
    from pyspark.sql import functions as F

    body = F.concat_ws(
        "\x1f", F.col("parser_used"), F.col("title"),
        F.col("n_chars").cast("string"), F.col("n_tokens").cast("string"),
        F.col("raw"), F.to_json(F.col("segments")))
    return df.select("url", F.substring(F.sha2(body, 256), 1, 16).alias("d"))


def digest_errors(df):
    """(url, digest) of quarantine rows: '!' + hash of stage and error."""
    from pyspark.sql import functions as F

    body = F.concat_ws("\x1f", F.col("stage"), F.col("error"))
    return df.select("url", F.concat(
        F.lit("!"), F.substring(F.sha2(body, 256), 1, 15)).alias("d"))


def load_refs(kind: str) -> dict[str, str]:
    with gzip.open(os.path.join(REFS, f"{kind}.json.gz"), "rt") as f:
        return json.load(f)["docs"]


def compare_docs(urls, got_rows, refs) -> tuple[int, int, int]:
    """Each input url must appear exactly once across extracted ∪
    errors, with the frozen digest, and no other url may appear.
    Returns (attempted, failed, extracted); an output row for a url
    that was not input counts as one more failure, up to attempted."""
    seen: dict[str, list[str]] = {}
    for url, d in got_rows:
        seen.setdefault(url, []).append(d)
    failed = extracted = 0
    for url in urls:
        got = seen.pop(url, [])
        if len(got) != 1 or got[0] != refs.get(url):
            failed += 1
        elif not got[0].startswith("!"):
            extracted += 1
    return len(urls), min(len(urls), failed + len(seen)), extracted


class _DocWorkload:
    kind = ""

    def __init__(self, work: str, seed: int, n_files: int):
        self.work, self.seed, self.n_files = work, seed, n_files
        self.spark = None

    def prepare(self) -> None:
        from perfbench.corpus import corpus_dir, page_at, window

        self.input, self.items = corpus_dir(self.work, self.kind, self.seed,
                                            self.n_files)
        self.urls = [page_at(self.kind, k)[0]
                     for k in window(self.kind, self.seed)]

    def bind(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.input)

    def reset(self) -> None:
        pass


class CcHtml(_DocWorkload):
    """HTML pages + 2% giant tail through ``extract()`` into noop."""
    kind = "cc_html"

    def run_pass(self) -> None:
        from lexoid_spark.plans.extract import extract

        noop(extract(self.pages, run_id="bench")["extracted"])

    def check(self) -> tuple[int, int, int]:
        from lexoid_spark.plans.extract import extract

        out = extract(self.pages, run_id="check")
        rows = (digest_extracted(out["extracted"])
                .unionByName(digest_errors(out["errors"])).collect())
        return compare_docs(self.urls, [(r.url, r.d) for r in rows],
                            load_refs(self.kind))


class MixedJobResume(_DocWorkload):
    """Full 30-class mix through ``run_extract_job``: a kill after 2 of
    4 buckets (one bucket group), then a resume to completion (the
    other group)."""
    kind = "mixed"
    N_BUCKETS, GROUP_SIZE, KILL_AT = 4, 2, 2

    def __init__(self, work: str, seed: int, n_files: int):
        super().__init__(work, seed, n_files)
        self.out = os.path.join(work, "job-out")
        self.n_pass = 0

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.n_pass += 1

    def run_pass(self) -> None:
        from lexoid_spark.plans.job import run_extract_job

        run_id = f"pass{self.n_pass}"
        kw = dict(n_buckets=self.N_BUCKETS, group_size=self.GROUP_SIZE)
        run_extract_job(self.spark, self.input, self.out, run_id=run_id,
                        max_buckets=self.KILL_AT, **kw)
        run_extract_job(self.spark, self.input, self.out, run_id=run_id, **kw)

    def out_bytes(self, table: str = "extracted") -> int:
        total = 0
        for dirpath, _, files in os.walk(os.path.join(self.out, table)):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if not f.startswith((".", "_")))
        return total

    def check(self) -> tuple[int, int, int]:
        """Reads back the last pass's ``extracted/`` and ``errors/``."""
        from lexoid_spark.plans.job import read_extracted

        ext = digest_extracted(read_extracted(self.spark, self.out))
        err_dir = os.path.join(self.out, "errors")
        rows = ext.collect()
        if os.path.isdir(err_dir) and any(
                f.endswith(".parquet") for _, _, fs in os.walk(err_dir)
                for f in fs):
            rows += digest_errors(self.spark.read.parquet(err_dir)).collect()
        return compare_docs(self.urls, [(r.url, r.d) for r in rows],
                            load_refs(self.kind))


class EntryMix:
    """A fixed query mix from ``__spark_entry__.queries()`` over the
    vendored sf0.01 tables, each into noop; the seed fixes the order
    the queries run in."""

    def __init__(self, spark, seed: int):
        import __spark_entry__ as entry_mod

        self.spark = spark
        self.queries = entry_mod.queries()
        self.order = list(ENTRY_QUERIES)
        random.Random(seed).shuffle(self.order)

    def run_query(self, name: str) -> None:
        noop(self.queries[name](self.spark, DATA))

    def check(self) -> tuple[int, int]:
        """Each query's rowset against its DuckDB oracle, compared the
        way ``tools/check_oracles.py`` does. Returns (attempted,
        failed)."""
        import importlib.util

        import duckdb

        import __spark_entry__ as entry_mod

        root = os.path.dirname(HERE)
        spec = importlib.util.spec_from_file_location(
            "check_oracles", os.path.join(root, "tools", "check_oracles.py"))
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)

        oracles = entry_mod.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in ENTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(DATA, t)}.parquet'")
        failed = 0
        for name in self.order:
            try:
                sdf = self.queries[name](self.spark, DATA)
                scols = [c.lower() for c in sdf.columns]
                srows = [tuple(r) for r in sdf.collect()]
                res = con.execute(oracles[name])
                dcols = [d[0].lower() for d in res.description]
                ok = (sorted(scols) == sorted(dcols) and
                      co._rowset(scols, srows) ==
                      co._rowset(dcols, res.fetchall()))
            except Exception:  # noqa: BLE001 — a failed query is a miss
                ok = False
            failed += not ok
        con.close()
        return len(self.order), failed


WORKLOADS = {
    "cc_html": CcHtml,
    "mixed_job_resume": MixedJobResume,
}
