"""Physical-plan pins: the properties that make the pipeline scale must
survive refactors — column pruning at the scan, pushable tail
predicate, broadcast joins for dimensions. (.explain-driven; SURVEY.md
§4.2 'free — verify, don't build'.)"""

import os

import pytest
from pyspark.sql import functions as F


def _formatted(df):
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jdf.queryExecution().explainString(mode.fromString("formatted"))


@pytest.fixture(scope="module")
def bench_pages(spark, tmp_path_factory):
    from lexoid_spark.corpus.gen import pages_df

    p = str(tmp_path_factory.mktemp("pp") / "pages")
    (
        pages_df(spark, 40)
        .withColumn("n_bytes", F.length("html").cast("long"))
        .write.parquet(p)
    )
    return spark.read.parquet(p)


def test_scan_prunes_to_needed_columns(spark, bench_pages):
    from lexoid_spark.plans.extract import extract

    plan = _formatted(extract(bench_pages)["extracted"])
    assert "ReadSchema: struct<url:string,html:binary,n_bytes:bigint>" in plan
    # warc_ts / text / lang never read
    assert "warc_ts" not in plan


def test_tail_predicate_pushed_to_parquet(spark, bench_pages):
    from lexoid_spark.plans.extract import extract

    plan = _formatted(extract(bench_pages)["extracted"])
    assert "GreaterThan(n_bytes,1048576)" in plan
    assert "IsNull(n_bytes)" in plan


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as em

    q3 = em.queries()["q3_shipping_priority"](spark, "/root/testdata/sf0.001")
    plan = _formatted(q3)
    assert "BroadcastHashJoin" in plan


def test_no_shuffle_without_repartition(spark, bench_pages):
    from lexoid_spark.plans.extract import extract

    plan = _formatted(extract(bench_pages, repartition=False)["extracted"])
    assert "Exchange" not in plan  # pure map pipeline


def test_extract_default_plan_is_one_dispatch(spark, bench_pages):
    """The default plan runs the dispatch kernel once and shuffles only
    the giant tail, round-robin: no second kernel pass, no merge
    aggregation, no range repartition."""
    import re

    from lexoid_spark.plans.extract import extract

    ext = extract(bench_pages, repartition=True)["extracted"]
    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    exchanges = re.findall(r"Exchange (\w+)\(", plan)
    assert exchanges == ["RoundRobinPartitioning"], plan
    assert "HashAggregate" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_dedup_plans_never_cartesian(spark):
    """LSH, portable SimHash, and IVF near-dup must stay bucket-local
    joins — a CartesianProduct anywhere is the O(N^2) scale-killer."""
    from lexoid_spark.functions.dedup import (
        lsh_candidate_pairs,
        simhash_near_pairs_portable,
    )
    from lexoid_spark.functions.similarity import embedding_near_dup_pairs

    docs = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta common tail")
         for i in range(30)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    for df in (
        lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=8, bands=2),
        simhash_near_pairs_portable(docs, "doc_id", "text"),
        embedding_near_dup_pairs(emb, tau=0.5, n_centroids=4),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_lsh_size_probe_is_broadcast(spark):
    """The oversized-bucket probe joins back as a BROADCAST (tiny build
    side), not a shuffle of the full banded frame."""
    from lexoid_spark.functions.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(i, "same text everywhere for collisions") for i in range(20)],
        "doc_id long, text string",
    )
    pairs = lsh_candidate_pairs(docs, "doc_id", "text",
                                num_hashes=8, bands=2)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_curation_map_ops_zero_shuffle(spark):
    """pii_redact / normalize_url / stratified_sample are pure map
    expressions — they must ride the scan with NO Exchange."""
    from lexoid_spark.functions.curation import (
        normalize_url,
        pii_redact,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, f"text {i}", f"https://Ex.com/{i}?utm_a=1", "en")
         for i in range(20)],
        "id long, text string, url string, lang string",
    )
    for out in (
        df.select(pii_redact("text")),
        df.select(normalize_url("url")),
        stratified_sample(df, "id", "lang", {"en": 0.5}),
    ):
        assert "Exchange" not in _formatted(out)


def test_ivf_assignment_is_map_only(spark):
    """Nearest-centroid assignment broadcasts ONE row of centroid
    structs: the vector side sees no Exchange, no per-vector window
    sort, no N×C row blowup (the only join is the broadcast of the
    single centroid-array row; the only Exchange is the C-row
    centroid-side aggregation)."""
    from lexoid_spark.functions.similarity import assign_clusters

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 2)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = _formatted(assign_clusters(emb, n_centroids=4))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid side
    # the big (vector) side must not shuffle: the only hash Exchange
    # allowed is the tiny C-row centroid aggregation under the
    # broadcast build side
    assert plan.count("Exchange hashpartitioning") <= 1


def test_paragraph_dedup_keeper_partial_aggregates(spark):
    """The keeper choice must be an aggregation (map-side combine:
    HashAggregate appears in partial+final pairs), not a window over
    the paragraph-hash partition — a boilerplate paragraph shared by
    millions of docs would hot-spot a window partition."""
    from lexoid_spark.functions.curation import paragraph_dedup

    df = spark.createDataFrame(
        [(i, f"shared para\n\nown {i}") for i in range(10)],
        "id long, text string",
    )
    plan = _formatted(paragraph_dedup(df, "id", "text"))
    assert "Window" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set must be the broadcast build side; the
    corpus side must never shuffle its text (only id+hash pairs)."""
    from lexoid_spark.functions.curation import decontaminate

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in
         range(10)], "id long, text string")
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], ["text"])
    plan = _formatted(decontaminate(docs, bench, "id", "text", n=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_charlm_table_is_broadcast(spark):
    """charlm_familiarity's per-lang top-k table must broadcast into
    the scoring join (the exploded corpus side never shuffles for it),
    and nothing in the plan may be a cartesian product."""
    from lexoid_spark.functions.curation import charlm_familiarity

    docs = spark.createDataFrame(
        [(i, "spark data " * 20, "en") for i in range(30)],
        "doc_id long, text string, lang string")
    plan = _formatted(charlm_familiarity(docs, "doc_id", "text", "lang"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_c4_filter_zero_shuffle(spark):
    """c4_line_filter is split + higher-order filter + array_join —
    pure map expressions that must ride the scan with NO Exchange."""
    from lexoid_spark.functions.curation import c4_line_filter

    df = spark.createDataFrame(
        [(i, "a line with plenty of words here.\nshort.") for i in
         range(20)], "id long, text string")
    assert "Exchange" not in _formatted(c4_line_filter(df, "id", "text"))


def test_dsir_bucket_tables_broadcast(spark):
    """DSIR's raw+target bucket counts come from ONE combined
    aggregation whose <= n_buckets-row result is the broadcast build
    side of the scoring join; the exploded corpus never shuffles for
    it (only the final groupBy(id) exchanges), and nothing goes
    cartesian."""
    from pyspark.sql import functions as F

    from lexoid_spark.functions.curation import dsir_weights

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en" if i % 2 else "de")
         for i in range(30)], "id long, text string, lang string")
    plan = _formatted(
        dsir_weights(df, "id", "text", F.col("lang") == "en"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus never shuffles to score
    assert "CartesianProduct" not in plan


def test_unimax_no_cartesian_alloc_broadcast(spark):
    """unimax_sample: the K-row allocation table must broadcast into
    the rank filter; no cartesian products anywhere."""
    from lexoid_spark.functions.curation import unimax_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(30)],
        "id long, lang string")
    plan = _formatted(unimax_sample(df, "id", "lang", 50))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dup_span_removal_no_window_no_cartesian(spark):
    """duplicate_span_removal's dup-gram detection must be a two-level
    aggregation (map-side combinable — a boilerplate gram in 10^9 docs
    partially aggregates), never a window over the gram-hash
    partition, and nothing may go cartesian."""
    from lexoid_spark.functions.curation import duplicate_span_removal

    df = spark.createDataFrame(
        [(i, "one two three four five six seven eight tail%d" % i)
         for i in range(10)], "id long, text string")
    # materialize=False: pin the LOGICAL shape (the default pins the
    # shared gram frame, which explain renders as an opaque cache scan)
    plan = _formatted(duplicate_span_removal(df, "id", "text", n=8,
                                             materialize=False))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_char_span_removal_no_window_no_cartesian(spark):
    """char_span_removal keeps the same scale shape as the word
    variant: two-level map-side-combinable dup detection, interval
    masking via per-row HOF folds — never a window function, never a
    cartesian; fingerprints come straight from the Arrow-batched
    mapInPandas kernel (no explode, no row-at-a-time Python)."""
    from lexoid_spark.functions.curation import char_span_removal

    df = spark.createDataFrame(
        [(i, ("shared boilerplate text that is long enough! " * 2)
          + "tail%d" % i) for i in range(10)],
        "id long, text string")
    plan = _formatted(char_span_removal(df, "id", "text", w=40,
                                        materialize=False))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate (" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_scalar_broadcast(spark):
    """tfidf_topk's corpus-size N is a one-row broadcast (nested-loop
    broadcast join is fine for 1 row); no CartesianProduct; the rank
    window partitions by doc id only."""
    from lexoid_spark.functions.textstats import tfidf_topk

    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)],
        "id long, text string")
    plan = _formatted(tfidf_topk(df, "id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quality_classifier_zero_shuffle(spark):
    """The linear quality classifier is one higher-order fold per row
    (hash -> integer weight -> sum) — it must ride the scan with NO
    Exchange; the custom-weights arm broadcasts its one-row table."""
    from lexoid_spark.functions.curation import linear_quality_classifier

    df = spark.createDataFrame(
        [(i, "some words to score here") for i in range(20)],
        "id long, text string")
    assert "Exchange" not in _formatted(
        linear_quality_classifier(df, "id", "text"))
    custom = _formatted(linear_quality_classifier(
        df, "id", "text", n_buckets=16, weights={0: 3}))
    assert "BroadcastNestedLoopJoin" in custom or "BroadcastExchange" in custom
    assert "CartesianProduct" not in custom


def test_char_span_winnow_shape(spark):
    """char_span_winnow keeps the exact variant's scale shape (no
    window function, no cartesian) while hashing + selection ride the
    scan in ONE Arrow-batched mapInPandas kernel that emits the
    selected fingerprints directly — no explode, no per-row hash
    arrays, no per-window md5, no row-at-a-time Python."""
    from lexoid_spark.functions.curation import char_span_removal_winnow

    df = spark.createDataFrame(
        [(i, ("shared boilerplate text that is long enough! " * 2)
          + "tail%d" % i) for i in range(10)],
        "id long, text string")
    plan = _formatted(char_span_removal_winnow(df, "id", "text", w=40, k=8,
                                               materialize=False))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate (" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_frame_ocr_is_map_only(spark):
    """frame_ocr is a row-expanding mapInPandas over the video
    column — per-frame OCR must ride the scan with NO Exchange (at
    10^12 docs the frame fan-out must stay inside the input
    partitioning; any shuffle here would move raw video bytes)."""
    from lexoid_spark.functions.multimodal import frame_ocr

    df = spark.createDataFrame(
        [(i, b"\x00\x00\x00\x01\x67") for i in range(8)],
        "id long, payload binary",
    )
    plan = _formatted(frame_ocr(df, every_n=2))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_parse_sitemap_bytes_zero_shuffle(spark):
    """Byte-level sitemap ingestion must ride the scan: one
    mapInPandas gunzip+decode, then the native block split — no
    Exchange anywhere (at 10^8 hosts a shuffle here would move raw
    sitemap blobs)."""
    from lexoid_spark.operators.robots import parse_sitemap_bytes

    df = spark.createDataFrame(
        [("h%d" % i, bytearray(b"<urlset></urlset>")) for i in range(8)],
        "host string, sitemap_blob binary")
    plan = _formatted(parse_sitemap_bytes(df))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_phrase_merges_sampled_apply_is_fused(spark):
    """The sampled trainer's apply stage: ALL learned merges fuse into
    ONE projection of chained literal-pattern regexp_replace calls —
    never a cartesian, never a per-merge shuffle or join of the
    corpus (r6: the former one-row broadcast pattern frame cost a
    default-parallelism Python parallelize job per invocation; scalar
    string literals generate value-independent code, so the codegen
    cache still hits across invocations)."""
    from lexoid_spark.functions.tokenizer import phrase_merges

    df = spark.createDataFrame(
        [(i, "a b c d a b") for i in range(12)],
        "id long, text string")
    out = phrase_merges(df, "id", "text", n_merges=2, sample_mod=3)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan          # apply is join-free now
    assert plan.count("regexp_replace") >= 2  # fused chain, one Project


@pytest.mark.parametrize("name", ["q1_pricing_summary", "pdf_flate_extract"])
def test_sort_tail_is_samplerless_single_partition(spark, name):
    """The `_srt` tail: a round-robin Exchange to SinglePartition plus
    a local Sort. A range exchange (`orderBy`) would run a boundary
    sampler that executes the child a second time, and a pinned result
    would add an InMemoryRelation. Checked on the executed plan of one
    relational tail and one Python-kernel tail; the kernel query keeps
    exactly the one InMemoryRelation that `_materialize` puts on its
    generated pages."""
    import re

    import __spark_entry__ as em

    df = em.queries()[name](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _formatted(df)
    assert "SinglePartition" in plan
    assert "rangepartitioning" not in plan.lower()
    n_cached = len(re.findall(r"^\(\d+\) InMemoryRelation$", plan, re.M))
    assert n_cached == (1 if name == "pdf_flate_extract" else 0)


_PYTHON_OPS = ("MapInPandas", "MapInArrow", "PythonUDF", "ArrowEvalPython",
               "BatchEvalPython", "Scan ExistingRDD")


def _traced(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result, the ids
    of the Spark jobs it started and the physical plans of the SQL
    executions it started (read from the session's SQL status store)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        return {e.executionId(): e.physicalPlanDescription()
                for e in (execs.apply(i) for i in range(execs.size()))}

    before = executions()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    plans = [p for i, p in executions().items() if i not in before]
    return out, list(sc.statusTracker().getJobIdsForGroup(group)), plans


def test_job_control_plane_is_jvm_only(spark, tmp_path):
    """Progress, resume and lineage of the shipped job run no Python:
    every Python-worker task pays a fixed start cost (UDF unpickle,
    Arrow set-up, scheduling; ~0.2 CPU-s more on a worker's first
    task), so the only Python tasks of ``run_extract_job`` are the
    dispatch kernel's.
    Pinned on the executed plans of the progress commit (with and
    without lineage rows, the latter collected from the lineage
    aggregate as the job does), the pending-buckets read and the
    lineage aggregate (over a JVM-only docs-shaped input), and on the
    job counts of the resume check: none before any progress exists,
    one after. Each commit is one file."""
    import glob

    from lexoid_spark.operators.lineage import lineage_rows
    from lexoid_spark.operators.progress import (
        mark_done,
        pending_buckets,
        with_bucket,
    )

    progress_dir = str(tmp_path / "progress")
    pending, jobs, _ = _traced(spark, "pending-none", lambda: pending_buckets(
        spark, 8, progress_dir, "r1"))
    assert pending == list(range(8)) and jobs == []

    _, _, plans = _traced(spark, "mark-done", lambda: mark_done(
        spark, progress_dir, "r1", [0, 5], [(2, 0, 3, 120, 1, 7)]))
    pending, jobs, read_plans = _traced(
        spark, "pending-read",
        lambda: pending_buckets(spark, 8, progress_dir, "r1"))
    assert pending == [1, 2, 3, 4, 6, 7] and len(jobs) == 1

    i = F.col("id")
    docs = with_bucket(spark.range(24, numPartitions=3).select(
        F.concat(F.lit("u"), i.cast("string")).alias("url"),
        F.when(i % 5 != 0, F.repeat(F.lit("x"), i.cast("int"))).alias("raw"),
        F.when(i % 5 == 0, F.lit("E: bad")).alias("error"),
        (i * 700).alias("kernel_us"),
    ), 4)
    lineage = lineage_rows(docs)
    rows, _, lineage_plans = _traced(spark, "lineage", lineage.collect)
    counts, _, commit_plans = _traced(spark, "commit", lambda: mark_done(
        spark, progress_dir, "r2", [0, 1, 2, 3],
        [tuple(r) for r in rows]))
    assert sum(counts.values()) == 24 - 5
    assert len(glob.glob(os.path.join(progress_dir, "*.parquet"))) == 2

    plans += read_plans + lineage_plans + commit_plans
    assert len(plans) == 4
    for plan in plans:
        for op in _PYTHON_OPS:
            assert op not in plan, plan


def _column_api_doctype(df, payload_col="html"):
    """Spec for ``routing.with_doctype``: the sniff spelled through the
    Column API, as it was built before it became one SQL string."""
    pc = F.col(payload_col)
    head = F.decode(F.substring(pc, 1, 512), "ISO-8859-1")
    low = F.lower(F.regexp_replace(head, r"^\s+", ""))
    first_line = F.split(head, "\n").getItem(0)
    _u32bom = F.hex(F.substring(pc, 1, 4)).isin("FFFE0000", "0000FEFF")
    _u32 = F.decode(F.substring(pc, 1, 512), "UTF-32")
    _u32low = F.lower(F.regexp_replace(_u32, r"^\s+", ""))
    _u32first = F.split(_u32, "\n").getItem(0)
    _u16bom = F.hex(F.substring(pc, 1, 2)).isin("FFFE", "FEFF")
    _u16 = F.decode(F.substring(pc, 1, 512), "UTF-16")
    _u16low = F.lower(F.regexp_replace(_u16, r"^\s+", ""))
    _u16first = F.split(_u16, "\n").getItem(0)
    return df.withColumn(
        "doctype",
        F.when(F.hex(F.substring(pc, 1, 5)) == "255044462D", F.lit("pdf"))
        .when(F.hex(F.substring(pc, 1, 4)) == "504B0304", F.lit("zip"))
        .when(
            F.hex(F.substring(pc, 1, 4)).isin(
                "494D4721", "89504E47", "47494638")
            | (F.hex(F.substring(pc, 1, 3)) == "FFD8FF")
            | (F.hex(F.substring(pc, 1, 8)) == "0000000C6A502020")
            | (F.hex(F.substring(pc, 1, 2)) == "FF4F")
            | F.hex(F.substring(pc, 1, 4)).isin("49492A00", "4D4D002A")
            | ((F.hex(F.substring(pc, 1, 2)) == "424D")
               & F.hex(F.substring(pc, 15, 4)).isin(
                   "28000000", "34000000", "38000000",
                   "6C000000", "7C000000"))
            | ((F.hex(F.substring(pc, 1, 4)) == "52494646")
               & (F.hex(F.substring(pc, 9, 4)) == "57454250")),
            F.lit("image"),
        )
        .when(F.hex(F.substring(pc, 1, 5)) == "7B5C727466", F.lit("txt"))
        .when(
            _u32bom & (
                _u32low.startswith("<!doctype") | _u32low.startswith("<html")
                | _u32low.startswith("<head") | _u32low.startswith("<body")
                | _u32low.contains("<html")
            ),
            F.lit("html"),
        )
        .when(_u32bom & _u32first.contains(",") & ~_u32first.contains("<"),
              F.lit("csv"))
        .when(_u32bom, F.lit("txt"))
        .when(
            _u16bom & (
                _u16low.startswith("<!doctype") | _u16low.startswith("<html")
                | _u16low.startswith("<head") | _u16low.startswith("<body")
                | _u16low.contains("<html")
            ),
            F.lit("html"),
        )
        .when(_u16bom & _u16first.contains(",") & ~_u16first.contains("<"),
              F.lit("csv"))
        .when(_u16bom, F.lit("txt"))
        .when(
            low.startswith("<!doctype") | low.startswith("<html")
            | low.startswith("<head") | low.startswith("<body")
            | low.contains("<html"),
            F.lit("html"),
        )
        .when(first_line.contains(",") & ~first_line.contains("<"),
              F.lit("csv"))
        .otherwise(F.lit("txt")),
    )


def _plan_texts(df):
    import re

    qe = df._jdf.queryExecution()
    return [re.sub(r"#\d+L?", "#_", p.toString())
            for p in (qe.analyzed(), qe.optimizedPlan())]


@pytest.mark.parametrize("payload_col", ["html", "payload"])
def test_sniff_plan_matches_column_api_spec(spark, payload_col):
    """The one-SQL-string sniff analyzes and optimizes to exactly the
    plan of its Column-API spelling (left-deep OR/AND chains, same
    literals, same CASE arm order)."""
    from lexoid_spark.operators.routing import with_doctype

    src = spark.range(4).select(
        "id", F.col("id").cast("string").cast("binary").alias(payload_col))
    got = _plan_texts(with_doctype(src, payload_col=payload_col))
    spec = _plan_texts(_column_api_doctype(src, payload_col=payload_col))
    assert got == spec


def _gateway_commands(spark, fn) -> int:
    """py4j commands the driver sends while ``fn`` runs; py4j's
    ``m\\nd`` memory-release commands (garbage collection) are not
    counted."""
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real_send = client.send_command

    def counting_send(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return real_send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        fn()
    finally:
        del client.send_command
    return len(sent)


def test_sniff_build_is_a_few_gateway_commands(spark):
    """Building the sniff costs a handful of py4j commands on the
    driver, not the ~1,400 of the Column-API spelling: every
    ``extract()`` builds it. Counted, not timed."""
    from lexoid_spark.operators.routing import with_doctype

    src = spark.range(4).select(
        F.col("id").cast("string").cast("binary").alias("html"))
    n_new = _gateway_commands(spark, lambda: with_doctype(src))
    n_spec = _gateway_commands(spark, lambda: _column_api_doctype(src))
    assert n_new <= 10, n_new
    assert n_spec > 100 * n_new  # the counter does see Column-API calls


def test_extract_build_is_about_a_hundred_gateway_commands(spark,
                                                           bench_pages):
    """A warm ``extract()`` builds its plan in at most 120 py4j
    commands (455 when its projection, quarantine split and tail split
    went through the Column API): the job pays it once per bucket
    group, the streaming sink once per micro-batch."""
    from lexoid_spark.plans.extract import extract

    extract(bench_pages)
    n = _gateway_commands(spark, lambda: extract(bench_pages))
    assert n <= 120, n


def _column_api_extract_pieces(pages, num_partitions):
    """Spec for the SQL-text pieces of ``extract()`` and the job: the
    tail split, the extracted projection, the quarantine split and the
    bucket column, spelled through the Column API as they were built
    before they became SQL strings."""
    from lexoid_spark.functions.textstats import token_count

    raw = F.col("n_bytes")
    size = F.coalesce(F.coalesce(raw, F.length("html")), F.lit(0))
    t = 1 << 20
    src = pages.select("url", "html", "n_bytes")
    split = src.filter(size <= t).unionByName(
        src.filter(size > t).filter((raw > t) | raw.isNull())
        .repartition(num_partitions))
    docs = split.select(
        "url", F.col("html").cast("string").alias("raw"),
        F.lit(None).cast("string").alias("error"))
    extracted = docs.filter(F.col("error").isNull()).select(
        "url",
        F.element_at(F.split(F.col("url"), "/"), -1).alias("title"),
        "raw",
        F.length("raw").alias("n_chars"),
        token_count(F.col("raw")).alias("n_tokens"),
    )
    errors = docs.filter(F.col("error").isNotNull()).select(
        "url", F.lit("ex'tr\\act").alias("stage"),
        F.col("error").alias("error"), F.lit("r'1").alias("run_id"))
    bucket = errors.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int"))
    return split, extracted, errors, bucket


def _sql_text_extract_pieces(pages, num_partitions):
    from lexoid_spark.operators.partitioning import split_giant_tail
    from lexoid_spark.operators.progress import with_bucket
    from lexoid_spark.operators.routing import quarantine
    from lexoid_spark.plans.extract import EXTRACTED_SQL

    split = split_giant_tail(pages.select("url", "html", "n_bytes"),
                             num_partitions, payload_col="n_bytes")
    docs = split.select(
        "url", F.col("html").cast("string").alias("raw"),
        F.lit(None).cast("string").alias("error"))
    wanted = ("url", "title", "raw", "n_chars", "n_tokens")
    extracted = docs.filter("error IS NULL").selectExpr(*(
        e for e in EXTRACTED_SQL if e.split(" AS ")[-1] in wanted))
    errors = quarantine(docs, "ex'tr\\act", "r'1")
    return split, extracted, errors, with_bucket(errors, 64)


def test_sql_text_pieces_match_column_api_spec(spark, bench_pages):
    """The SQL-text tail split, extracted projection, quarantine split
    (string literals with a quote and a backslash) and bucket column
    analyze and optimize to exactly the plans of their Column-API
    spelling, and give the same rows."""
    got = _sql_text_extract_pieces(bench_pages, 8)
    spec = _column_api_extract_pieces(bench_pages, 8)
    assert len(got) == len(spec) == 4
    for g, s in zip(got, spec):
        assert _plan_texts(g) == _plan_texts(s)
    assert sorted(got[1].collect()) == sorted(spec[1].collect())
    assert got[1].count() == bench_pages.count()
    assert got[2].schema == spec[2].schema


def _executed_tree(df):
    """The executed physical plan as a tree string: AQE's final plans
    only (a cached relation prints its initial plan too; dropped)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kept, skip_below = [], None
    for line in plan.toString().splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if skip_below is not None and indent >= skip_below:
            continue
        skip_below = indent if "== Initial Plan ==" in line else None
        if skip_below is None:
            kept.append(line)
    return "\n".join(kept)


def test_row_udf_lifts_a_per_row_function(spark):
    """``row_udf``: ``fn`` sees plain Python values (an int as ``int``,
    a null as ``None``), and the column is one Arrow-batched UDF named
    after ``fn`` — no row-at-a-time ``BatchEvalPython``."""
    from lexoid_spark.functions.udfs import row_udf

    def probe(n, s):
        return f"{type(n).__name__}:{n}|{type(s).__name__}:{s}"

    df = spark.range(3).select(
        "id",
        row_udf(probe, "string")(
            F.col("id"),
            F.when(F.col("id") > 0, F.col("id").cast("string")),
        ).alias("v"))
    tree = _executed_tree(df)
    assert {r["id"]: r["v"] for r in df.collect()} == {
        0: "int:0|NoneType:None", 1: "int:1|str:1", 2: "int:2|str:2"}
    assert tree.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in tree
    assert "ArrowEvalPython [probe(" in tree


# (ArrowEvalPython, MapInPandas, Exchange) nodes in the executed plan of
# one query per family whose per-row Python column is a ``row_udf``: the
# shape the hand-written pandas UDFs had, so the lift changed no operator
_ROW_UDF_QUERY_SHAPES = {
    "extract_html_h1": (1, 0, 2),
    "gif_meta": (1, 1, 1),
    "webp_meta": (1, 1, 1),
    "pdf_flate_extract": (1, 1, 2),
}


@pytest.mark.parametrize("name", sorted(_ROW_UDF_QUERY_SHAPES))
def test_row_udf_queries_keep_operator_census(spark, name):
    import re

    import __spark_entry__ as em

    tree = _executed_tree(em.queries()[name](spark, "/root/testdata/sf0.001"))
    got = (tree.count("ArrowEvalPython"), tree.count("MapInPandas"),
           len(re.findall(r"\bExchange\b", tree)))
    assert got == _ROW_UDF_QUERY_SHAPES[name]
    assert "BatchEvalPython" not in tree


def test_similarity_report_is_one_arrow_udf_node(spark):
    from lexoid_spark.functions.metrics import similarity_report

    df = spark.createDataFrame([("a b c", "a b d"), ("x", None)],
                               "parsed string, truth string")
    tree = _executed_tree(similarity_report(df, "parsed", "truth"))
    assert tree.count("ArrowEvalPython") == 1
    assert "ArrowEvalPython [seq_ratio(" in tree
    assert "tfidf_cosine(" in tree
    assert "Exchange" not in tree and "BatchEvalPython" not in tree
