"""The traced run: per-layer numbers for one workload.

Separate from the timed runs. It records spans from the benchmark's
own files around calls into each layer's public functions, turns on
Spark's event log for the benchmark's session, and reads task, shuffle
and Python-UDF SQL metrics back from it. Spans live in memory and are
written to ``_work/trace/<run id>.spans.jsonl`` at the end.

Layers (README "Per-layer metrics"):

* a ladder of plan prefixes into noop — scan, ``split_giant_tail``,
  ``with_doctype``, an identity ``mapInPandas`` (Arrow round trip, no
  kernel), the full ``extract()`` — whose differences are the scan,
  tail-split, sniff and boundary slices;
* serial timed calls into each kernel arm on the same corpus;
* ``run_extract_job`` (kill + resume) with timing shims on
  ``pending_buckets``, ``mark_done``, ``lineage_rows`` and the parquet
  writes, and a counter of rows entering the dispatch kernel;
* each ``__spark_entry__`` query, with the exchanges and cached
  relations of its executed plans.

Every per-layer metric is reported on every workload; a layer the
workload does not run reads 0.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from perfbench import harness
from perfbench.workloads import ENTRY_QUERIES, EntryMix, MixedJobResume, noop

ARMS = ("html", "segment", "pdf", "ocr", "office", "csv", "txt")
LADDER_REPS = 3
SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory spans: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROP, name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            self._stack.pop()
            if self.spark is not None:
                self.spark.sparkContext.setLocalProperty(
                    SPAN_PROP, self._stack[-1] if self._stack else None)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# --- shims -------------------------------------------------------------------

@contextlib.contextmanager
def patched(obj, name: str, wrapper):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def _timed(tracer: Tracer, span_name: str):
    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)
        return inner
    return wrap


def _timed_writes(tracer: Tracer):
    """DataFrameWriter.parquet, spanned by the output table's name."""
    def wrap(fn):
        def inner(self, path, *a, **kw):
            with tracer.span("write." + os.path.basename(
                    str(path).rstrip("/"))):
                return fn(self, path, *a, **kw)
        return inner
    return wrap


def _counting_kernel(acc):
    """Wrap ``make_extract_doc_map`` so every row entering the dispatch
    kernel adds 1 to ``acc`` (a Spark accumulator)."""
    def wrap(factory):
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
    return wrap


# --- event log ---------------------------------------------------------------

class EventLog:
    """Task, stage and SQL-plan facts from one application's event log,
    keyed by the span each Spark job was submitted under."""

    def __init__(self, path: str):
        self.stage_span: dict[int, str] = {}
        self.job_span: dict[int, str] = {}
        self.exec_span: dict[int, str] = {}
        self.plans: dict[int, dict] = {}
        self.driver_accums: dict[int, list] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    self.job_span[ev["Job ID"]] = span
                    for sid in ev.get("Stage IDs", []):
                        self.stage_span[sid] = span
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and span:
                        self.exec_span.setdefault(int(eid), span)
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    self.driver_accums.setdefault(
                        ev["executionId"], []).extend(ev["accumUpdates"])

    def span_tasks(self, span: str) -> list[dict]:
        return [t for t in self.tasks
                if self.stage_span.get(t["Stage ID"]) == span]

    def jobs(self, spans) -> int:
        return sum(1 for s in self.job_span.values() if s in spans)

    @staticmethod
    def accum(tasks, metric: str) -> float:
        total = 0.0
        for t in tasks:
            for a in t.get("Task Info", {}).get("Accumulables", []):
                if a.get("Name") == metric and a.get("Update") is not None:
                    total += float(a["Update"])
        return total

    @staticmethod
    def task_metric(tasks, *keys) -> list[float]:
        out = []
        for t in tasks:
            m = t.get("Task Metrics") or {}
            for k in keys:
                m = m.get(k, {}) if isinstance(m, dict) else {}
            out.append(float(m) if isinstance(m, (int, float)) else 0.0)
        return out

    def _walk(self, span: str):
        """Every plan node of the SQL executions run under ``span``."""
        def walk(node):
            yield node
            for c in node.get("children", []):
                yield from walk(c)

        for eid, s in self.exec_span.items():
            if s == span and eid in self.plans:
                yield from walk(self.plans[eid])

    def plan_nodes(self, span: str) -> list[str]:
        return [n.get("nodeName", "") for n in self._walk(span)]

    def driver_metric(self, span: str, metric: str) -> float:
        """Sum of a driver-side SQL metric (e.g. a scan's "size of files
        read") over the executions run under ``span``."""
        ids = {m["accumulatorId"] for n in self._walk(span)
               for m in n.get("metrics", []) if m.get("name") == metric}
        return float(sum(v for eid, s in self.exec_span.items() if s == span
                         for aid, v in self.driver_accums.get(eid, ())
                         if aid in ids))


def _event_log_file(log_dir: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return paths[0]


def _gc_s(spark) -> float:
    """Cumulative collection time of the driver JVM (local mode: the
    executors share it). Per-task 'JVM GC Time' overlaps between
    concurrent tasks of one JVM, so it is not summed."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# --- layer runners -----------------------------------------------------------

def _ladder(tracer: Tracer, spark, pages) -> dict[str, float]:
    """Median wall of each plan prefix into noop, LADDER_REPS times,
    interleaved so a slow moment hits every step alike."""
    from lexoid_spark.functions.udfs import DOC_SCHEMA
    from lexoid_spark.operators.partitioning import split_giant_tail
    from lexoid_spark.operators.routing import with_doctype
    from lexoid_spark.plans.extract import extract

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = pages.select("url", "html", "n_bytes")
    split = split_giant_tail(src, nparts, payload_col="n_bytes")
    sniff = with_doctype(split)

    def identity(batches):
        import pandas as pd

        for b in batches:
            yield pd.DataFrame({
                "url": b["url"], "raw": None, "segments": None,
                "parser_used": "IDENTITY", "error": None})

    steps = [
        ("ladder.scan", lambda: noop(src)),
        ("ladder.split", lambda: noop(split)),
        ("ladder.sniff", lambda: noop(sniff)),
        ("ladder.identity", lambda: noop(
            sniff.select("url", "doctype", "html")
            .mapInPandas(identity, DOC_SCHEMA))),
        ("ladder.extract", lambda: noop(
            extract(pages, run_id="trace")["extracted"])),
    ]
    for _ in range(LADDER_REPS):
        for name, fn in steps:
            with tracer.span(name):
                fn()
    return {name: harness.median(tracer.durations(name))
            for name, _ in steps}


def _kernels(input_dir: str) -> dict[str, dict]:
    """Serial calls of the program's own per-document dispatch
    (``udfs._extract_one``) over the workload's corpus, with a timing
    shim on each arm's kernel function. A call made from inside another
    timed call is not timed again; a doc the dispatch rejects (a
    quarantine row in the pipeline) keeps the time its kernel took."""
    import pandas as pd

    from lexoid_spark.functions import udfs
    from lexoid_spark.kernels import ocr_stub, office_md
    from lexoid_spark.kernels.pdf_md import sniff_doctype

    cpu: dict[str, list[float]] = {a: [] for a in ARMS}
    wall: dict[str, list[float]] = {a: [] for a in ARMS}
    depth = [0]

    def timer(arm):
        def wrap(fn):
            def inner(*a, **kw):
                if depth[0]:
                    return fn(*a, **kw)
                depth[0] += 1
                c0, t0 = time.process_time(), time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    wall[arm].append(time.perf_counter() - t0)
                    cpu[arm].append(time.process_time() - c0)
                    depth[0] -= 1
            return inner
        return wrap

    # _extract_one names the html/pdf/segment/csv/txt kernels through
    # the udfs module and imports the OCR and office ones at call time
    shims = [(udfs, "html_to_md", "html"), (udfs, "segment_md", "segment"),
             (udfs, "pdf_to_pages", "pdf"), (udfs, "csv_to_md", "csv"),
             (udfs, "_txt_decode", "txt"),
             (ocr_stub, "ocr_pdf_to_pages", "ocr"),
             (ocr_stub, "ocr_image_to_page", "ocr")]
    shims += [(office_md, f"{k}_to_md", "office")
              for k in ("docx", "xlsx", "pptx", "epub")]
    payloads = pd.read_parquet(input_dir, columns=["html"])["html"]
    with contextlib.ExitStack() as st:
        for mod, name, arm in shims:
            st.enter_context(patched(mod, name, timer(arm)))
        for payload in payloads:
            try:
                udfs._extract_one(sniff_doctype(payload), payload)
            except Exception:  # noqa: BLE001 — the pipeline quarantines it
                pass
    return {arm: {
        "cpu_s": sum(cpu[arm]),
        "docs": len(cpu[arm]),
        "ms_p50": 1000 * harness.quantile(wall[arm], 0.50),
        "ms_p99": 1000 * harness.quantile(wall[arm], 0.99),
    } for arm in ARMS}


def _job(tracer: Tracer, spark, wl) -> None:
    """One kill + resume of the shipped job with the driver-side shims."""
    import pyspark.sql.readwriter as rw

    import lexoid_spark.plans.job as job_mod

    with contextlib.ExitStack() as st:
        st.enter_context(patched(job_mod, "pending_buckets",
                                 _timed(tracer, "progress.pending")))
        st.enter_context(patched(job_mod, "mark_done",
                                 _timed(tracer, "progress.mark_done")))
        st.enter_context(patched(job_mod, "lineage_rows",
                                 _timed(tracer, "lineage.rows")))
        st.enter_context(patched(rw.DataFrameWriter, "parquet",
                                 _timed_writes(tracer)))
        kw = dict(n_buckets=wl.N_BUCKETS, group_size=wl.GROUP_SIZE)
        run_id = "trace"
        with tracer.span("job.kill"):
            job_mod.run_extract_job(spark, wl.input, wl.out, run_id=run_id,
                                    max_buckets=wl.KILL_AT, **kw)
        with tracer.span("job.resume"):
            job_mod.run_extract_job(spark, wl.input, wl.out, run_id=run_id,
                                    **kw)


# --- the run -----------------------------------------------------------------

def traced_run(wl, workload: str, work: str):
    import lexoid_spark.plans.extract as extract_mod

    run_id = f"{workload}-seed{wl.seed}-{os.getpid()}"
    log_dir = os.path.join(work, "eventlog")
    tracer = Tracer(run_id)
    m: dict[str, float] = {}

    with tracer.span("session.start"):
        spark = harness.start_spark(work, "perfbench_trace",
                                    event_log=log_dir)
    tracer.spark = spark
    wl.bind(spark)

    def one_pass():
        wl.reset()
        wl.run_pass()

    with tracer.span("session.warm"):
        harness.warm_up(one_pass)

    # tracing overhead: one pass of the workload untraced, then one with
    # every shim and the dispatch-row counter in place
    gc0 = _gc_s(spark)
    untraced = _wall(wl, wl.run_pass)
    acc = spark.sparkContext.accumulator(0)
    with patched(extract_mod, "make_extract_doc_map", _counting_kernel(acc)):
        traced = _wall(wl, lambda: _traced_pass(tracer, spark, wl))
    m["trace.overhead_s"] = traced - untraced
    m["job.kernel_calls_per_doc"] = acc.value / wl.items
    m["jvm.gc_s"] = (_gc_s(spark) - gc0) / 2

    ladder = _ladder(tracer, spark, wl.pages) if workload == "cc_html" \
        else {}
    attempted, failed, _ = wl.check()
    if workload == "cc_html":
        entry = EntryMix(spark, wl.seed)
        _entry_passes(tracer, entry)
        e_attempted, e_failed = entry.check()
        attempted, failed = attempted + e_attempted, failed + e_failed
    app_id = spark.sparkContext.applicationId
    spark.stop()

    tracer.dump(os.path.join(work, "trace", run_id + ".spans.jsonl"))
    ev = EventLog(_event_log_file(log_dir, app_id))
    m["session.start_s"] = tracer.total("session.start")
    m["session.warm_s"] = tracer.total("session.warm")
    m.update(_doc_layers(ev, wl, ladder, _kernels(wl.input)))
    m.update(_job_layers(tracer, ev, wl, workload))
    m.update(_entry_layers(tracer, ev, workload))
    return m, attempted, failed


def _wall(wl, run_pass) -> float:
    """Wall time of one pass, after the workload's untimed reset."""
    wl.reset()
    t0 = time.perf_counter()
    run_pass()
    return time.perf_counter() - t0


def _traced_pass(tracer: Tracer, spark, wl) -> None:
    if isinstance(wl, MixedJobResume):
        _job(tracer, spark, wl)
    else:
        with tracer.span("extract.pass"):
            wl.run_pass()


def _entry_passes(tracer: Tracer, entry, passes: int = 2) -> None:
    """One untimed warm pass, then ``passes`` spanned passes. A query
    that raises is skipped here; the oracle check counts it failed."""
    for i in range(passes + 1):
        for name in entry.order:
            with tracer.span("entry." + name if i else "entry.warm"):
                try:
                    entry.run_query(name)
                except Exception:  # noqa: BLE001 — counted by check()
                    pass


def _doc_layers(ev, wl, ladder, kern) -> dict:
    m: dict[str, float] = {}
    for arm, vals in kern.items():
        for k, v in vals.items():
            m[f"kernels.{arm}.{k}"] = v
    if not ladder:
        for k in ("scan.s", "scan.mb", "partitioning.tail_split_s",
                  "partitioning.shuffle_mb", "partitioning.task_s_p50",
                  "partitioning.task_s_p99", "partitioning.straggler_ratio",
                  "routing.sniff_s", "udfs.boundary_s", "udfs.py_sent_mb",
                  "udfs.py_received_mb", "udfs.py_boot_s", "udfs.py_init_s",
                  "udfs.py_total_s", "extract.s", "extract.unattributed_s"):
            m[k] = 0.0
        return m
    reps = LADDER_REPS
    kernel_ideal = sum(v["cpu_s"] for v in kern.values()) / harness.slots()
    m["scan.s"] = ladder["ladder.scan"]
    # the tasks' "Bytes Read" input metric sees only a small part of
    # the parquet reads (49 KB of an 804 KB html column); the scan
    # node's own driver-side metric counts the files it opened
    m["scan.mb"] = ev.driver_metric("ladder.scan", "size of files read") \
        / reps / 1e6
    m["partitioning.tail_split_s"] = ladder["ladder.split"] - \
        ladder["ladder.scan"]
    m["routing.sniff_s"] = ladder["ladder.sniff"] - ladder["ladder.split"]
    m["udfs.boundary_s"] = ladder["ladder.identity"] - ladder["ladder.sniff"]
    m["extract.s"] = ladder["ladder.extract"]
    m["extract.unattributed_s"] = ladder["ladder.extract"] - \
        ladder["ladder.identity"] - kernel_ideal
    ext_tasks = ev.span_tasks("ladder.extract")
    m["partitioning.shuffle_mb"] = sum(ev.task_metric(
        ext_tasks, "Shuffle Write Metrics", "Shuffle Bytes Written")) \
        / reps / 1e6
    # dispatch tasks: the extract step's tasks that ran Python
    disp = [t for t in ext_tasks
            if any(a.get("Name") == "time to run Python workers"
                   for a in t.get("Task Info", {}).get("Accumulables", []))]
    run_s = sorted(x / 1000.0 for x in ev.task_metric(
        disp, "Executor Run Time"))
    p50 = harness.quantile(run_s, 0.5)
    m["partitioning.task_s_p50"] = p50
    m["partitioning.task_s_p99"] = harness.quantile(run_s, 0.99)
    m["partitioning.straggler_ratio"] = (run_s[-1] / p50) if p50 else 0.0
    m["udfs.py_sent_mb"] = ev.accum(
        ext_tasks, "data sent to Python workers") / reps / 1e6
    m["udfs.py_received_mb"] = ev.accum(
        ext_tasks, "data returned from Python workers") / reps / 1e6
    for key, name in (("py_boot_s", "time to start Python workers"),
                      ("py_init_s", "time to initialize Python workers"),
                      ("py_total_s", "time to run Python workers")):
        # timing SQL metrics are in ms
        m["udfs." + key] = ev.accum(ext_tasks, name) / reps / 1e3
    return m


def _job_layers(tracer, ev, wl, workload) -> dict:
    """From the one traced kill + resume pass."""
    keys = ("job.kill_s", "job.resume_s", "job.spark_jobs",
            "job.write_s.extracted", "job.write_s.errors",
            "job.write_s.lineage", "job.out_bytes_per_doc",
            "progress.pending_s", "progress.mark_done_s",
            "progress.mark_done_calls")
    if workload != "mixed_job_resume":
        return dict.fromkeys(keys, 0.0)
    job_spans = {s["name"] for s in tracer.spans
                 if s["name"].startswith(("job.", "progress.", "write.",
                                          "lineage."))}
    return {
        "job.kill_s": tracer.total("job.kill"),
        "job.resume_s": tracer.total("job.resume"),
        "job.spark_jobs": ev.jobs(job_spans),
        "job.write_s.extracted": tracer.total("write.extracted"),
        "job.write_s.errors": tracer.total("write.errors"),
        "job.write_s.lineage": tracer.total("write.lineage"),
        "job.out_bytes_per_doc": wl.out_bytes() / wl.items,
        "progress.pending_s": tracer.total("progress.pending"),
        "progress.mark_done_s": tracer.total("progress.mark_done"),
        "progress.mark_done_calls":
            len(tracer.durations("progress.mark_done")),
    }


def _entry_layers(tracer, ev, workload) -> dict:
    m = {f"entry.{q}.s": 0.0 for q in ENTRY_QUERIES}
    m["entry.exchanges"] = m["entry.cached_relations"] = 0.0
    if workload != "cc_html":
        return m
    n = 0
    for q in ENTRY_QUERIES:
        d = tracer.durations("entry." + q)
        n = len(d)
        m[f"entry.{q}.s"] = harness.median(d)
        nodes = ev.plan_nodes("entry." + q)
        m["entry.exchanges"] += sum("Exchange" in x and "Reused" not in x
                                    for x in nodes)
        m["entry.cached_relations"] += sum(x == "InMemoryTableScan"
                                           for x in nodes)
    m["entry.exchanges"] /= max(n, 1)
    m["entry.cached_relations"] /= max(n, 1)
    return m
