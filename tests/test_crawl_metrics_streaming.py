"""Recursive-crawl analogue (J3/U1), similarity metrics (A7), and the
Structured Streaming incremental path."""

import difflib

import pytest
from pyspark.sql import functions as F

from lexoid_spark.functions.metrics import similarity_report
from lexoid_spark.operators.crawl import crawl_edges


def _url(i):
    return f"https://c.test/{i}"


@pytest.fixture(scope="module")
def link_pages(spark):
    # doc i links to i+3 and i+7 (markdown + bare), last docs dangle
    rows = []
    for i in range(20):
        md = f"see [a]({_url(i + 3)}) and {_url(i + 7)} end"
        rows.append((_url(i), md))
    return spark.createDataFrame(rows, "url string, text string")


def test_crawl_bfs_edges_and_depths(spark, link_pages):
    edges = crawl_edges(link_pages, seed_urls=[_url(0)], depth=2)
    got = {(r["parent_url"], r["child_url"]): r["depth"]
           for r in edges.collect()}
    # depth 1: 0 -> 3, 0 -> 7
    assert got[(_url(0), _url(3))] == 1
    assert got[(_url(0), _url(7))] == 1
    # depth 2: from 3 -> {6, 10}, from 7 -> {10, 14}
    for p, c in [(3, 6), (3, 10), (7, 10), (7, 14)]:
        assert got[(_url(p), _url(c))] == 2
    assert len(got) == 6


def test_crawl_cycle_prevention(spark):
    rows = [
        (_url(0), f"[x]({_url(1)})"),
        (_url(1), f"[x]({_url(0)}) [y]({_url(2)})"),
        (_url(2), f"[x]({_url(1)})"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    edges = crawl_edges(pages, seed_urls=[_url(0)], depth=5)
    got = {(r["parent_url"], r["child_url"]): r["depth"]
           for r in edges.collect()}
    # back-edge 1->0 is recorded once; 0 is never re-crawled
    assert got[(_url(0), _url(1))] == 1
    assert got[(_url(1), _url(0))] == 2
    assert got[(_url(1), _url(2))] == 2
    assert got[(_url(2), _url(1))] == 3
    assert len(got) == 4


def test_crawl_out_of_corpus_links_dropped(spark):
    pages = spark.createDataFrame(
        [(_url(0), f"[x]({_url(1)}) [gone](https://other.test/nope)"),
         (_url(1), "no links")],
        "url string, text string",
    )
    edges = crawl_edges(pages, seed_urls=[_url(0)], depth=3)
    assert [(r["parent_url"], r["child_url"]) for r in edges.collect()] == [
        (_url(0), _url(1))
    ]


def test_similarity_report_reference_semantics(spark):
    rows = [
        ("same text here", "same text here"),
        ("alpha beta gamma", "alpha beta delta"),
        ("", "x y"),
    ]
    df = spark.createDataFrame(rows, "parsed string, truth string")
    got = similarity_report(df, "parsed", "truth").collect()

    r0 = got[0]
    assert r0["seq_ratio"] == pytest.approx(1.0)
    assert r0["tfidf_cosine"] == pytest.approx(1.0)
    assert (r0["jaccard"], r0["precision"], r0["recall"], r0["f1"]) == (
        1.0, 1.0, 1.0, 1.0)

    r1 = got[1]
    exp_seq = difflib.SequenceMatcher(
        None, "alpha beta gamma", "alpha beta delta").ratio()
    assert r1["seq_ratio"] == pytest.approx(exp_seq)
    assert r1["jaccard"] == pytest.approx(2 / 4)
    assert r1["precision"] == pytest.approx(2 / 3)
    assert r1["recall"] == pytest.approx(2 / 3)
    assert 0 < r1["tfidf_cosine"] < 1

    r2 = got[2]
    assert r2["seq_ratio"] == 0.0 and r2["jaccard"] == 0.0
    assert r2["precision"] == 0.0 and r2["recall"] == 0.0 and r2["f1"] == 0.0


def test_similarity_report_null_side_is_empty_text(spark):
    """A null parsed or truth text scores as "" in all six metrics: the
    token-set ones agree with ``seq_ratio``/``tfidf_cosine`` (a null
    truth once gave ``precision = NULL`` beside ``recall = 0.0``)."""
    metrics = ("seq_ratio", "tfidf_cosine", "jaccard", "precision",
               "recall", "f1")

    def report(rows):
        df = spark.createDataFrame(rows, "k int, parsed string, truth string")
        return {r["k"]: tuple(r[m] for m in metrics)
                for r in similarity_report(df, "parsed", "truth").collect()}

    got = report([(0, "x", None), (1, None, "x y")])
    assert got == report([(0, "x", ""), (1, "", "x y")])
    assert all(v == 0.0 for row in got.values() for v in row), got


def test_streaming_incremental_exactly_once(spark, tmp_path):
    from lexoid_spark.corpus.gen import pages_df
    from lexoid_spark.plans.extract import extract
    from lexoid_spark.streaming.incremental import incremental_extract

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_pages = pages_df(spark, 24)
    batch1 = all_pages.filter(F.xxhash64("url") % 2 == 0)
    batch2 = all_pages.filter(F.xxhash64("url") % 2 != 0)

    batch1.write.mode("append").parquet(in_dir)
    incremental_extract(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == batch1.count()

    # second drop: only the new files are processed (checkpoint)
    batch2.write.mode("append").parquet(in_dir)
    incremental_extract(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == 24
    assert got.select("url").distinct().count() == 24  # no dups

    # byte-identical to the batch plan
    batch = extract(all_pages, repartition=False)["extracted"]
    assert sorted((r["url"], r["raw"]) for r in got.collect()) == sorted(
        (r["url"], r["raw"]) for r in batch.collect()
    )


def test_split_giant_tail_null_nbytes_no_loss(spark):
    from lexoid_spark.operators.partitioning import split_giant_tail

    df = spark.createDataFrame(
        [("a", b"<html>x</html>", None), ("b", b"<html>y</html>", 5)],
        "url string, html binary, n_bytes long",
    )
    out = split_giant_tail(df, 2, payload_col="n_bytes", threshold_bytes=10)
    assert out.count() == 2  # null n_bytes row must not vanish


def test_reachable_docs_carries_parent_title(spark):
    from lexoid_spark.operators.crawl import crawl_edges, reachable_docs

    pages = spark.createDataFrame(
        [("http://t.test/0", "[a](http://t.test/1) [b](http://t.test/2)"),
         ("http://t.test/1", "[c](http://t.test/2)"),
         ("http://t.test/2", "leaf")],
        "url string, text string",
    )
    edges = crawl_edges(pages, seed_urls=["http://t.test/0"], depth=2)
    docs = spark.createDataFrame(
        [("http://t.test/0", "Root"), ("http://t.test/1", "Mid"),
         ("http://t.test/2", "Leaf")],
        "url string, title string",
    )
    got = {
        (r["child_url"], r["depth"]): (r["parent_title"], r["title"])
        for r in reachable_docs(edges, docs).collect()
    }
    assert got[("http://t.test/1", 1)] == ("Root", "Mid")
    assert got[("http://t.test/2", 1)] == ("Root", "Leaf")


def test_edges_to_tree_reference_shape(spark):
    from lexoid_spark.operators.crawl import edges_to_tree

    edges = [("r", "a"), ("r", "b"), ("a", "b"), ("b", "r")]  # cycle back
    docs = {
        "r": {"raw": "R", "title": "Root"},
        "a": {"raw": "A", "title": "TitleA"},
        "b": {"raw": "B", "title": "TitleB"},
    }
    tree = edges_to_tree(edges, docs, "r")
    assert tree["title"] == "Root" and tree["parent_title"] == ""
    # DFS pre-order exactly like the reference's recursion: a is visited
    # first, claims b as ITS child; b is then skipped under r, and b's
    # cycle back to r is cut by the visited set
    subs = {d["url"]: d for d in tree["recursive_docs"]}
    assert set(subs) == {"a"}
    assert subs["a"]["parent_title"] == "Root"
    inner = {d["url"]: d for d in subs["a"]["recursive_docs"]}
    assert set(inner) == {"b"}
    assert inner["b"]["parent_title"] == "TitleA"
    assert inner["b"]["recursive_docs"] == []
