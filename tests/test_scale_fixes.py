"""Scale-bug regression pins (round-2 fixes).

Each test pins a behavior that is invisible at sandbox scale but fatal
at the 10^12-row design point:
  * the crawl frontier is NOT broadcast once it exceeds the threshold
    (forced broadcast of a corpus-sized frontier = driver OOM);
  * crawl depth=0 returns an empty edge table instead of raising;
  * LSH buckets above the cap are sub-bucketed, so a boilerplate-heavy
    corpus (thousands of identical pages in ONE band bucket) cannot
    explode quadratically;
  * the streaming errors branch is sunk, not discarded;
  * lineage rows are not duplicated when a bucket re-runs.
"""

import os

import pytest
from pyspark.sql import functions as F


def test_crawl_large_frontier_not_broadcast(spark):
    from lexoid_spark.operators.crawl import crawl_edges

    urls = [f"http://t.test/{i}" for i in range(12)]
    rows = [(u, f"[n](http://t.test/{(i + 1) % 12})")
            for i, u in enumerate(urls)]
    pages = spark.createDataFrame(rows, "url string, text string")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = crawl_edges(pages, seed_urls=urls, depth=1,
                            broadcast_threshold=4)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert edges.count() == 12  # ring: every node has one out-edge
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_crawl_small_frontier_broadcasts(spark):
    from lexoid_spark.operators.crawl import crawl_edges

    pages = spark.createDataFrame(
        [("http://t.test/0", "[n](http://t.test/1)"),
         ("http://t.test/1", "no links")],
        "url string, text string",
    )
    edges = crawl_edges(pages, seed_urls=["http://t.test/0"], depth=1,
                        broadcast_threshold=1000)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert edges.count() == 1


def test_crawl_depth_zero_returns_empty(spark):
    from lexoid_spark.operators.crawl import crawl_edges

    pages = spark.createDataFrame(
        [("http://t.test/0", "[n](http://t.test/1)")],
        "url string, text string",
    )
    edges = crawl_edges(pages, seed_urls=["http://t.test/0"], depth=0)
    assert edges.columns == ["parent_url", "child_url", "depth"]
    assert edges.count() == 0


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """1k identical docs: one band bucket of size 1000 would emit
    C(1000,2)=499 500 pairs; the cap sub-buckets it so the bucket-local
    join stays bounded. (Identical docs are exact-dedup's job.)"""
    from lexoid_spark.functions.dedup import lsh_candidate_pairs

    n = 1000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("cookie banner accept terms privacy policy home about"
              ).alias("text"),
    )
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2, max_bucket_size=50
    )
    n_pairs = pairs.count()
    full = n * (n - 1) // 2
    # 20 sub-buckets of ~50 → ≈ 20·C(50,2) ≈ 24.5k pairs, far below 499.5k
    assert 0 < n_pairs < full // 5


def test_lsh_cap_inert_below_threshold(spark):
    """With all buckets under the cap, results are identical to the
    uncapped scheme (sub_bucket = 0 everywhere)."""
    from lexoid_spark.functions.dedup import lsh_candidate_pairs

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_candidate_pairs(docs, "doc_id", "text",
                              num_hashes=8, bands=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]


def test_streaming_errors_branch_sunk(spark, tmp_path):
    """A doc that fails extraction in continuous-ingest mode must land
    in the errors sink, not vanish (the batch job persists errors/)."""
    from lexoid_spark.streaming.incremental import incremental_extract

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    err_dir = str(tmp_path / "errs")
    ckpt = str(tmp_path / "ckpt")

    # a zip-magic payload that is not a valid OPC container → quarantine
    bad = b"PK\x03\x04not actually a zip"
    rows = [
        ("http://s.test/ok", None, b"<html><body><p>hi</p></body></html>",
         "x", "en"),
        ("http://s.test/bad", None, bad, "x", "en"),
    ]
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(in_dir)

    incremental_extract(spark, in_dir, out_dir, ckpt, errors_dir=err_dir)

    ok = spark.read.parquet(out_dir)
    assert [r["url"] for r in ok.collect()] == ["http://s.test/ok"]
    errs = spark.read.parquet(err_dir)
    got = errs.collect()
    assert len(got) == 1 and got[0]["url"] == "http://s.test/bad"
    assert got[0]["error"]


def test_lineage_idempotent_on_bucket_replay(spark, tmp_path, monkeypatch):
    """Kill-and-resume re-runs buckets; lineage must not double-count."""
    import lexoid_spark.plans.job as job_mod
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.operators.lineage import read_lineage
    from lexoid_spark.plans.job import run_extract_job

    p = str(tmp_path / "pages.parquet")
    pages_df(spark, 24).write.parquet(p)
    out = str(tmp_path / "out")

    run_extract_job(spark, p, out, run_id="r1", n_buckets=4, group_size=2,
                    max_buckets=2)
    # simulate a kill AFTER the data writes but BEFORE the commit that
    # carries the lineage rows: the same buckets replay
    def killed(*a, **kw):
        raise RuntimeError("killed at commit")

    with monkeypatch.context() as m:
        m.setattr(job_mod, "mark_done", killed)
        with pytest.raises(RuntimeError):
            run_extract_job(spark, p, out, run_id="r1", n_buckets=4,
                            group_size=2)
    run_extract_job(spark, p, out, run_id="r1", n_buckets=4, group_size=2)

    lin = read_lineage(spark, os.path.join(out, "progress"))
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == 24


@pytest.mark.parametrize("run_id2", ["r2"])
def test_new_run_id_does_not_inherit_progress(spark, tmp_path, run_id2):
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.job import run_extract_job

    p = str(tmp_path / "pages.parquet")
    pages_df(spark, 12).write.parquet(p)
    out = str(tmp_path / "out")

    r1 = run_extract_job(spark, p, out, run_id="r1", n_buckets=4)
    assert len(r1.buckets_done) == 4
    # a NEW run id over the same output dir reprocesses every bucket
    # (idempotent overwrites) instead of silently no-op'ing
    r2 = run_extract_job(spark, p, out, run_id=run_id2, n_buckets=4)
    assert len(r2.buckets_done) == 4 and r2.n_docs == 12


def test_connected_components_clusters(spark):
    from lexoid_spark.functions.dedup import connected_components

    # two components: {1,2,3,9} via chain, {5,7}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_connected_components_long_chain_converges(spark):
    from lexoid_spark.functions.dedup import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    got = connected_components(pairs, max_iter=n + 2).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == n + 1


def test_winnow_shared_passage_shares_fingerprints(spark):
    from lexoid_spark.functions.textstats import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "intro words here " + shared + " closing remarks"),
        (2, "totally different opener " + shared + " other ending words"),
        (3, "no overlap with anything else at all whatsoever in here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, "doc_id", "text", k=3, window=4)
    by_doc = {
        i: {r["fp"] for r in fps.filter(F.col("id") == i).collect()}
        for i in (1, 2, 3)
    }
    # the shared passage forces common fingerprints between 1 and 2...
    assert by_doc[1] & by_doc[2]
    # ...and the unrelated doc shares none
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_gopher_flags_rule_behavior(spark):
    from lexoid_spark.functions.textstats import gopher_quality_flags

    good = " ".join(f"word{i}" for i in range(60))
    short = "too few words here"
    symbols = " ".join(["####"] * 60)
    bullets = "\n".join(f"- item {i} word word" for i in range(10))
    rows = [(1, good), (2, short), (3, symbols), (4, bullets)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    f = gopher_quality_flags(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id", f.getField("passes").alias("passes"),
        f.getField("word_count_ok").alias("wc"),
        f.getField("symbol_ratio_ok").alias("sym"),
        f.getField("bullet_ratio_ok").alias("bul"),
    ).collect()}
    assert got[1]["passes"]
    assert not got[2]["wc"] and not got[2]["passes"]
    assert not got[3]["sym"] and not got[3]["passes"]
    assert not got[4]["bul"] and not got[4]["passes"]


def test_gopher_stopword_rule(spark):
    """The sixth Gopher rule: >= 2 distinct required English stopwords.
    Reported as stopword_ok / passes_strict; the structural `passes`
    gate is unchanged so non-English corpora aren't zeroed out."""
    from lexoid_spark.functions.textstats import gopher_quality_flags

    with_sw = " ".join(["the data flows to here"] * 15)     # the + to
    without = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, with_sw), (2, without)], "doc_id long, text string")
    f = gopher_quality_flags(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        f.getField("passes").alias("p"),
        f.getField("stopword_ok").alias("sw"),
        f.getField("passes_strict").alias("ps"),
    ).collect()}
    assert got[1]["sw"] and got[1]["ps"] and got[1]["p"]
    assert got[2]["p"] and not got[2]["sw"] and not got[2]["ps"]
