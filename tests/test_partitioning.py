"""Skew partitioning: byte-size keying (not digit-count), tail split
semantics, and extract() output unchanged by the tail split."""

from pyspark.sql import functions as F

from lexoid_spark.corpus.gen import PAGES_SCHEMA_DDL, pages_df
from lexoid_spark.operators.partitioning import _size_sql, split_giant_tail
from lexoid_spark.plans.extract import extract


def test_size_col_numeric_passthrough(spark):
    """Regression: F.length on an int column counts decimal digits —
    a precomputed n_bytes column must be used as-is."""
    df = spark.createDataFrame(
        [("a", 1500000), ("b", 999)], "url string, n_bytes long"
    )
    got = df.selectExpr(_size_sql(df, "n_bytes") + " AS s").collect()
    assert sorted(r["s"] for r in got) == [999, 1500000]
    # every numeric type passes through, not only int/bigint/double
    for dtype, big in (("decimal(20,0)", 1500000), ("float", 1500000),
                       ("smallint", 30000)):
        tdf = spark.createDataFrame(
            [("a", big), ("b", 999)], "url string, n_bytes long"
        ).select("url", F.col("n_bytes").cast(dtype).alias("n_bytes"))
        got = tdf.selectExpr(_size_sql(tdf, "n_bytes") + " AS s").collect()
        assert sorted(int(r["s"]) for r in got) == [999, big], dtype
    bdf = spark.createDataFrame([("a", b"xyz")], "url string, html binary")
    assert bdf.selectExpr(_size_sql(bdf, "html") + " AS s").collect()[0][
        "s"] == 3


def test_split_giant_tail_preserves_rows_and_spreads(spark):
    pages = pages_df(spark, 40, p_giant=0.1)
    out = split_giant_tail(pages, 8, payload_col="html",
                           threshold_bytes=50_000)
    assert out.count() == 40
    assert sorted(r["url"] for r in out.collect()) == sorted(
        r["url"] for r in pages.collect()
    )
    tail = pages.filter(F.length("html") > 50_000)
    n_tail = tail.count()
    assert n_tail >= 2  # the skew knob produced a giant tail
    spread = (
        split_giant_tail(pages, 8, threshold_bytes=50_000)
        .filter(F.length("html") > 50_000)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert spread >= min(n_tail, 2)  # giants not all in one partition


def test_tail_split_keeps_extract_output(spark):
    """A page above extract()'s 1 MiB tail threshold really moves
    through the round-robin shuffle, and the rows come out the same as
    with no split at all."""
    import datetime as dt

    from lexoid_spark.corpus.gen import _html_giant, _rng

    giant_url = "https://fixtures.test/html_giant/big"
    payload = _html_giant(7, _rng(7), repeat=3000)
    assert len(payload) > 1 << 20
    giant = spark.createDataFrame(
        [(giant_url, dt.datetime(2024, 1, 1), payload, "", "en")],
        PAGES_SCHEMA_DDL,
    )
    pages = pages_df(spark, 30).unionByName(giant)

    def rows(repartition):
        ext = extract(pages, repartition=repartition)["extracted"]
        return sorted((r["url"], r["raw"]) for r in ext.collect())

    split = rows(True)
    assert split == rows(False)
    assert giant_url in {url for url, _ in split}


def test_z_order_key_matches_reference_interleave(spark):
    from lexoid_spark.operators.partitioning import z_order_key

    df = spark.createDataFrame(
        [(i, (i * 37) % 65536, (i * 101) % 65536) for i in range(64)],
        "id long, a long, b long")
    rows = df.select("a", "b", z_order_key("a", "b").alias("z")).collect()

    def ref(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    for r in rows:
        assert r["z"] == ref(r["a"], r["b"])

