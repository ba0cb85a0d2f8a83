"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline over a pages table
synthesized from sf0.001 ``documents`` (BASELINE.json input_hint shape).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family (SURVEY.md §2 + the training-data-pipeline ops): relational
skeleton (joins/aggs/windows/sorts), text analysis, dedup (exact,
minhash+LSH, simhash, n-gram jaccard), similarity search (brute-force +
IVF), and extraction kernels with SQL-constructible ground truth.

Column names/types are aligned pairwise; double aggregates are rounded
identically on both sides; sums are cast to BIGINT in DuckDB (which
otherwise widens to HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fan-out read for CPU-heavy per-row kernels: the sf tables are
    small parquet files (≤3 input splits), so a codec/crypt fixture
    UDF over a plain read would run on 3 of 32 cores. Repartitioning
    the NARROW projection to the session's shuffle parallelism before
    the heavy map is the standard pre-fan-out for compute-bound maps
    (tiny shuffle of key columns, full-width work spread across every
    core); relational queries keep the plain `_t` read — no shuffle
    added where the scan is the cost."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return _t(spark, sf_dir, name).repartition(n)


def _materialize(df: DataFrame) -> DataFrame:
    """Pin a GENERATED fixture frame so downstream plan arms re-read
    rows instead of re-running the generator UDF.

    The codec/crypt fixture queries synthesize their input payloads
    with a pandas UDF standing in for what is a parquet/Iceberg scan
    in the real pipeline. extract()'s multi-arm plan (sniff → dispatch
    → quarantine split) references its input several times; over a
    table scan that's a cheap columnar re-read (exactly what a 100-TB
    run does), but over an un-pinned generator column Catalyst
    re-executes the UDF once PER ARM — benchmarking 4x the fixture
    writer instead of the engine. persist() restores the scan
    semantics; results are unchanged (the generators are
    deterministic). Spark's cache manager matches by analyzed plan, so
    repeated bench invocations of the same query share one entry.

    Retention: there is deliberately no per-query unpersist — a
    long-lived session accumulates one MEMORY_AND_DISK entry per
    generated-fixture query (bounded by the fixture-query count, and
    spill-backed, never OOM). Harness callers that loop many queries
    (bench.py does) reclaim everything between rounds with
    ``spark.catalog.clearCache()``."""
    return df.persist()


def _srt(*cols):
    """Trailing total sort of a query's final (small) result frame:
    ``repartition(1)`` (round-robin — NO sampling job) then
    ``sortWithinPartitions``.

    A plain ``orderBy`` compiles to a range-partitioned exchange whose
    boundaries come from a SAMPLING job over the child plan, so the
    child (for the codec/crypt/extract queries, a pure-Python kernel
    pass over every fixture) would execute twice per action. Here the
    child runs exactly once, in the parallel shuffle-map stage, and the
    single reducer totally sorts the small result rows. Keys keep their
    ASC/DESC direction (plain ascending columns or explicit
    F.desc/F.asc Columns), so the total order is ``orderBy(*cols)``'s.
    """

    def apply(df: DataFrame) -> DataFrame:
        return df.repartition(1).sortWithinPartitions(*cols)

    return apply


def _fixture_extract(spark, sf, host: str,
                     make_doc: Callable[[int], bytes], run_id: str,
                     where=None, **extract_kw) -> dict:
    """Generated-fixture documents through the FULL extract() plan.

    ``make_doc(doc_id) -> bytes`` builds one document; it runs as a
    binary ``row_udf`` (named after it, so plans show the generator)
    over the fanned-out ``documents`` ids, optionally filtered by
    ``where``. Each page gets url ``http://<host>/<doc_id>``, a null
    ``warc_ts``, empty text and lang 'en'; the pages frame is pinned by
    ``_materialize`` and extracted in place (``repartition=False``).
    Returns extract()'s dict of frames."""
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.plans.extract import extract

    docs = _tp(spark, sf, "documents")
    if where is not None:
        docs = docs.filter(where)
    pages = docs.select(
        F.concat(F.lit(f"http://{host}/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        row_udf(make_doc, "binary")("doc_id").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )
    return extract(_materialize(pages), run_id=run_id, repartition=False,
                   **extract_kw)


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → Common-Crawl-shaped pages → full extraction
    pipeline (route → html kernel → segments → quarantine) at sf0.001."""
    from lexoid_spark.plans.extract import extract

    docs = _t(spark, SF001, "documents")
    pages = docs.select(
        F.concat(F.lit("https://corpus.test/doc/"), F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><h1>Doc "), F.col("doc_id"),
                F.lit("</h1><h3>Body</h3><p>"), F.col("text"),
                F.lit("</p><h3>Tail</h3><p>"), F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return extract(pages, run_id="entry")["extracted"]


# ---------------------------------------------------------------------------
# shared query builders
# ---------------------------------------------------------------------------

def _q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .transform(_srt("l_returnflag", "l_linestatus"))
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q3(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _q5(spark, sf):
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .transform(_srt(F.desc("revenue"), F.asc("n_name")))
    )


_Q5_SQL = """
SELECT n_name,
       ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def _q4(spark, sf):
    """TPC-H Q4 shape (EXISTS → left-semi join); the late-delivery
    predicate adapts to the -ish schema (no commit/receipt dates):
    a line discounted above 5% stands in."""
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        orders.join(
            li.select("l_orderkey").distinct(),
            orders.o_orderkey == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .transform(_srt("o_orderpriority"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _q6(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


_Q6_SQL = """
SELECT ROUND(CAST(SUM(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def _q10(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
       AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def _q12(spark, sf):
    """TPC-H Q12 shape (join + two-way conditional counts); shipmode is
    absent in the -ish schema, so returnflag is the grouping key and
    the ship window filters on l_shipdate."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi.cast("long")).alias("high_line_count"),
            F.sum((~hi).cast("long")).alias("low_line_count"),
        )
        .transform(_srt("l_returnflag"))
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q18(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(CAST(t.sum_qty AS DOUBLE), 2) AS sum_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def _q19(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    # p_container is absent in the -ish schema: p_brand bands keep the
    # OR-of-conjunctive-ranges shape the optimizer must handle
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1)
         & (F.col("l_quantity") <= 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 10)
           & (F.col("l_quantity") <= 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20)
           & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 15))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_Q19_SQL = """
SELECT ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
       AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
"""


def _q14_type_share(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("economy_share")
        )
    )


_Q14_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS economy_share
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def _q7_volume_shipping(spark, sf):
    """TPC-H Q7 shape (volume shipping between two nation groups, both
    directions, per year). The -ish 25-nation / small-SF data makes a
    single nation pair vacuous, so the pair is nation-key groups
    (<5 vs ≥20) — same join/group shape."""
    nation = _t(spark, sf, "nation")
    supp = _t(spark, sf, "supplier")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") <= "1997-12-31")
    )
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("s_nk") < 5) & (F.col("c_nk") >= 20))
            | ((F.col("s_nk") >= 20) & (F.col("c_nk") < 5))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ), 2).alias("revenue"))
        .transform(_srt("supp_nation", "cust_nation", "l_year"))
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
       ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
         AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_nationkey < 5 AND n2.n_nationkey >= 20)
       OR (n1.n_nationkey >= 20 AND n2.n_nationkey < 5))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def _q8_market_share(spark, sf):
    """TPC-H Q8 shape: one nation group's share of ASIA-customer
    revenue per order year."""
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    supp = _t(spark, sf, "supplier")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") <= "1997-12-31")
    )
    li = _t(spark, sf, "lineitem")
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_regionkey").alias("c_rk"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("s_nationkey") < 5, vol).otherwise(0.0))
            / F.sum(vol), 6,
        ).alias("mkt_share"))
        .transform(_srt("o_year"))
    )


_Q8_SQL = """
SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
       ROUND(CAST(
         SUM(CASE WHEN s_nationkey < 5
                  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
         / SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 6)
         AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
GROUP BY o_year ORDER BY o_year
"""


def _q16_supplier_cnt(spark, sf):
    """TPC-H Q16 shape (supplier count per part attribute bucket).
    No partsupp table in the -ish schema — lineitem is the
    part↔supplier bridge; brand exclusion + size subset kept."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    li = _t(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .transform(_srt(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def _q20_small_part_suppliers(spark, sf):
    """TPC-H Q20 shape (nested semi-join: suppliers who moved serious
    volume of a part class): suppliers whose shipped quantity of
    SMALL-type parts exceeds 50, via left-semi join."""
    part = _t(spark, sf, "part").filter(F.col("p_type") == "SMALL")
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .transform(_srt("s_name"))
    )


_Q20_SQL = """
SELECT s_name, s_acctbal FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'SMALL'
  GROUP BY l_suppkey HAVING SUM(l_quantity) > 50
)
ORDER BY s_name
"""


def _q13_customer_distribution(spark, sf):
    """TPC-H Q13 shape: order-count distribution over customers,
    INCLUDING zero-order customers (the left join is the point),
    with a priority-class exclusion standing in for the comment
    filter."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .transform(_srt(F.desc("custdist"), F.desc("c_count")))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def _q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17 shape: revenue lost to small-quantity orders of a
    part class — lineitems under 50%% of their part's average
    quantity (the correlated scalar subquery becomes a per-part agg
    join; 0.5 instead of 0.2 so the -ish data keeps rows)."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#2") & (F.col("p_size") < 15)
    )
    li = _t(spark, sf, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty.withColumnRenamed("l_partkey", "ak"),
              F.col("l_partkey") == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
             .alias("avg_yearly"))
    )


_Q17_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#2' AND p_size < 15
  AND l_quantity < (
    SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def _q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape (suppliers who kept orders waiting): in
    finished multi-supplier orders, blame the supplier whose items
    alone carry the order's latest ship date (the exists/not-exists
    pair becomes a per-order max + sole-supplier-at-max check)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    fin = li.join(orders.select("o_orderkey"),
                  li.l_orderkey == F.col("o_orderkey"))
    per_order = fin.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    ).filter(F.col("n_supp") >= 2)
    latest = (
        fin.join(per_order, "l_orderkey")
        .filter(F.col("l_shipdate") == F.col("max_ship"))
    )
    blame = (
        latest.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("ns"),
             F.max("l_suppkey").alias("the_supp"))
        .filter(F.col("ns") == 1)
    )
    supp = _t(spark, sf, "supplier")
    return (
        blame.join(F.broadcast(supp),
                   blame.the_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
WITH fin AS (
  SELECT l.* FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM fin GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2
),
blame AS (
  SELECT f.l_orderkey, MAX(f.l_suppkey) AS the_supp
  FROM fin f JOIN per_order p
    ON f.l_orderkey = p.l_orderkey AND f.l_shipdate = p.max_ship
  GROUP BY f.l_orderkey HAVING COUNT(DISTINCT f.l_suppkey) = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM blame JOIN supplier ON the_supp = s_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""


def _q22_global_sales_opportunity(spark, sf):
    """TPC-H Q22 shape: rich-but-inactive customers per country code
    (nation key stands in for the phone prefix): above-average
    positive balance, zero orders, grouped by code."""
    cust = _t(spark, sf, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("a"))
        .collect()[0]["a"]
    )
    orders = _t(spark, sf, "orders").select("o_custkey").distinct()
    return (
        cust.filter(F.col("c_acctbal") > avg_bal)
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(F.count("*").alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .transform(_srt("cntrycode"))
    )


_Q22_SQL = """
WITH c AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
),
a AS (SELECT AVG(c_acctbal) AS ab FROM c WHERE c_acctbal > 0)
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM c, a
WHERE c_acctbal > a.ab
  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey ORDER BY cntrycode
"""


def _top_customers(spark, sf):
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


_TOP_CUST_SQL = """
SELECT c_custkey, c_name,
       ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total_spend,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 10
"""


def _supplier_rank(spark, sf):
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        supp.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("n_name", "s_suppkey", "s_name",
                F.round("s_acctbal", 2).alias("acctbal"), "rnk")
        .transform(_srt("n_name", "rnk"))
    )


_SUPPLIER_RANK_SQL = """
SELECT n_name, s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal, rnk
FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rnk
  FROM supplier
) s JOIN nation ON s_nationkey = n_nationkey
WHERE rnk <= 3
ORDER BY n_name, rnk
"""


def _events_daily(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .transform(_srt("day", "event_type"))
    )


_EVENTS_DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY day, event_type ORDER BY day, event_type
"""


def _events_sessions(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_sess", F.when(gap > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            (F.sum("new_sess") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .transform(_srt("user_id"))
    )


_EVENTS_SESSIONS_SQL = """
SELECT user_id,
       CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
) t GROUP BY user_id ORDER BY user_id
"""


def _events_json(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum("k").alias("sum_k"),
        )
        .transform(_srt("event_type"))
    )


_EVENTS_JSON_SQL = r"""
SELECT event_type,
       ROUND(AVG(k), 4) AS avg_k,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM (SELECT event_type,
             CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k
      FROM events) t
GROUP BY event_type ORDER BY event_type
"""


# ---- documents: text analysis ----

def _sessions_closed(spark, sf):
    """Batch twin of the stateful streaming sessionizer
    (streaming/sessionize.py, applyInPandasWithState): gap-split
    sessions minus each user's open (last) one — what the stream emits.
    The stream↔batch equivalence is pinned in
    tests/test_sessionize_stateful.py."""
    from lexoid_spark.streaming.sessionize import sessionize_batch

    ev = _t(spark, sf, "events")
    return sessionize_batch(ev, gap_sec=1800).transform(_srt(
        "user_id", "start_sec"
    ))


_SESSIONS_CLOSED_SQL = """
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
g AS (
  SELECT user_id, sec,
         CASE WHEN LAG(sec) OVER w IS NULL
              OR sec - LAG(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)
),
s AS (
  SELECT user_id, sec,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
agg AS (
  SELECT user_id, sid, MIN(sec) AS start_sec, MAX(sec) AS end_sec,
         COUNT(*)::BIGINT AS n_events
  FROM s GROUP BY user_id, sid
),
last AS (SELECT user_id, MAX(sid) AS lsid FROM agg GROUP BY user_id)
SELECT a.user_id AS user_id, a.start_sec, a.end_sec, a.n_events
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid != l.lsid
ORDER BY a.user_id, a.start_sec
"""


def _docs_by_lang(spark, sf):
    docs = _t(spark, sf, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .transform(_srt("lang"))
    )


_DOCS_BY_LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def _doc_token_stats(spark, sf):
    from lexoid_spark.functions.textstats import alnum_ratio, token_count

    docs = _t(spark, sf, "documents")
    tok_chars = F.length(F.regexp_replace(F.trim("text"), r"\s+", ""))
    n = token_count(F.col("text"))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, F.round(tok_chars / n, 4)).otherwise(0.0).alias("avg_token_len"),
        alnum_ratio(F.col("text")).alias("alnum_ratio"),
    ).transform(_srt("doc_id"))


_DOC_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
       ROUND(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_token_len,
       ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS alnum_ratio
FROM documents ORDER BY doc_id
"""


def _doc_bpe_tokens(spark, sf):
    from lexoid_spark.functions.textstats import bpe_token_count, token_count

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).transform(_srt("doc_id"))


_DOC_BPE_SQL = r"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS ws_tokens,
  CAST(len(regexp_extract_all(text,
       ' ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS INT) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def _doc_quality(spark, sf):
    from lexoid_spark.functions.textstats import quality_score

    docs = _tp(spark, sf, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).transform(_srt("doc_id"))


_STOP_SQL = "'the','a','of','and','to','in','is','it','for','on'"
_DOC_QUALITY_SQL = rf"""
SELECT doc_id,
  ROUND(
    0.5 * LEAST(1.0, len(regexp_split_to_array(trim(text), '\s+')) / 200.0)
    + 0.3 * ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text), 4)
    + 0.2 * LEAST(1.0, 5.0 * ROUND(
        CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             t -> t IN ({_STOP_SQL}))) AS DOUBLE)
        / len(regexp_split_to_array(trim(text), '\s+')), 4)),
  4) AS quality
FROM documents ORDER BY doc_id
"""


def _doc_langid(spark, sf):
    from lexoid_spark.functions.textstats import langid_table

    docs = _t(spark, sf, "documents")
    return (
        langid_table(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id"))
    )


_DOC_LANGID_SQL = r"""
WITH c AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'the')) AS c_en,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'der')) AS c_de,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'le'))  AS c_fr,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'el'))  AS c_es,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t = 'ka'))  AS c_hi
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN c_en = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_en > 0 THEN 'en'
    WHEN c_de = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_de > 0 THEN 'de'
    WHEN c_fr = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_fr > 0 THEN 'fr'
    WHEN c_es = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_es > 0 THEN 'es'
    WHEN c_hi = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_hi > 0 THEN 'hi'
    ELSE 'und'
  END AS lang_pred
FROM c ORDER BY doc_id
"""


def _doc_fingerprint(spark, sf):
    from lexoid_spark.functions.textstats import fingerprint

    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).transform(_srt(
        "doc_id"
    ))


_DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(regexp_replace(text,
            '\\[a-zA-Z]+(\[[^\]]*\])?(\{[^}]*\})?', ' ', 'g'),
            '\s+', ' ', 'g'),
            '[^a-zA-Z0-9 ]', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
"""


def _exact_dedup_keepers(spark, sf):
    from lexoid_spark.functions.dedup import exact_dedup

    docs = _t(spark, sf, "documents")
    return (
        exact_dedup(docs, "doc_id", "text")
        .select("doc_id", "n_dups")
        .transform(_srt("doc_id"))
    )


_EXACT_DEDUP_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(regexp_replace(text,
              '\\[a-zA-Z]+(\[[^\]]*\])?(\{[^}]*\})?', ' ', 'g'),
              '\s+', ' ', 'g'),
              '[^a-zA-Z0-9 ]', ' ', 'g'))) AS f
  FROM documents
)
SELECT doc_id, n_dups FROM (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY f) AS n_dups
  FROM fp
) t WHERE rn = 1 ORDER BY doc_id
"""


def _events_windowed(spark, sf):
    """Watermarked tumbling-window aggregation (batch form of the
    streaming plan — same declarative query, streaming/windowed.py)."""
    from lexoid_spark.streaming.windowed import windowed_counts

    ev = _t(spark, sf, "events")
    return windowed_counts(ev).transform(_srt("window_start", "event_type"))


_EVENTS_WINDOWED_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
       AS window_start,
       event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def _exact_dup_groups(spark, sf):
    docs = _t(spark, sf, "documents")
    return (
        docs.groupBy("lang", "n_chars")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
        .transform(_srt("lang", "n_chars"))
    )


_EXACT_DUP_SQL = """
SELECT lang, n_chars, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM documents GROUP BY lang, n_chars HAVING COUNT(*) > 1
ORDER BY lang, n_chars
"""

# shared shingle fragments
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(len(regexp_split_to_array(trim(text), '\\s+')) - 2), "
    "i -> regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' || "
    "regexp_split_to_array(trim(text), '\\s+')[i+2] || ' ' || "
    "regexp_split_to_array(trim(text), '\\s+')[i+3]))"
)


def _ngram_jaccard_adjacent(spark, sf):
    from lexoid_spark.functions.dedup import shingles

    docs = _tp(spark, sf, "documents").select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.when(union > 0, F.round(inter / union, 4))
            .otherwise(0.0)
            .alias("jaccard"),
        )
        .transform(_srt("doc_id"))
    )


_NGRAM_JACCARD_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT a.doc_id AS doc_id,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             4) AS jaccard
FROM s a JOIN s b ON a.doc_id + 1 = b.doc_id
ORDER BY doc_id
"""


def _minhash_sample(spark, sf):
    from lexoid_spark.functions.dedup import minhash_signatures

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 20)
    return (
        minhash_signatures(docs, "doc_id", "text", num_hashes=4)
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id"))
    )


def _minhash_hash_sql(k: int) -> str:
    # mirrors dedup._minhash_hash32: 32-bit slices of grouped digests
    g, part = divmod(k, 4)
    salt = "" if g == 0 else f" || ':{g}'"
    off = part * 8 + 1
    return (
        f"list_min(list_transform(sh, s -> "
        f"('0x' || substr(md5(s{salt}), {off}, 8))::BIGINT))"
    )


_MINHASH_SAMPLE_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents WHERE doc_id < 20)
SELECT doc_id,
       {_minhash_hash_sql(0)} AS h0,
       {_minhash_hash_sql(1)} AS h1,
       {_minhash_hash_sql(2)} AS h2,
       {_minhash_hash_sql(3)} AS h3
FROM s ORDER BY doc_id
"""


def _minhash_band_pairs(spark, sf):
    from lexoid_spark.functions.dedup import lsh_candidate_pairs

    docs = _tp(spark, sf, "documents")
    return lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_n=3
    ).transform(_srt("id_a", "id_b"))


def _band_hash_sql(b: int, rows: int) -> str:
    parts = " || ',' || ".join(
        f"CAST({_minhash_hash_sql(b * rows + r)} AS VARCHAR)"
        for r in range(rows)
    )
    return f"md5({parts})"


_MINHASH_PAIRS_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN {_band_hash_sql(0, 2)}
           WHEN 1 THEN {_band_hash_sql(1, 2)}
           WHEN 2 THEN {_band_hash_sql(2, 2)}
           ELSE {_band_hash_sql(3, 2)}
         END AS bucket
  FROM s, (SELECT UNNEST([0,1,2,3]) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def _quality_classifier(spark, sf):
    """fastText-shaped linear quality classifier (FineWeb-Edu / DCLM
    model-based filter stage): tokens hash into 1024 buckets, the doc
    logit is the mean bucket weight, keep = logit >= 0. Weights are
    the deterministic closed-form stand-in (training is out of scope),
    INTEGER until one final division, so DuckDB reproduces every score
    bit-for-bit. ZERO shuffle: one higher-order fold per row riding
    the scan."""
    from lexoid_spark.functions.curation import linear_quality_classifier

    docs = _tp(spark, sf, "documents")
    return linear_quality_classifier(
        docs, "doc_id", "text").transform(_srt("doc_id"))


_QUALITY_CLASSIFIER_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
),
s AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
         CAST(COALESCE(list_sum(list_transform(toks, x ->
           ((('0x' || substr(md5(x), 1, 15))::BIGINT % 1024) * 37 + 11)
           % 201 - 100)), 0) AS BIGINT) AS sum_w
  FROM t
)
SELECT doc_id, n_toks, sum_w,
       CASE WHEN n_toks > 0 THEN CAST(sum_w AS DOUBLE) / n_toks
            ELSE 0.0 END AS score,
       CASE WHEN n_toks > 0 THEN CAST(sum_w AS DOUBLE) / n_toks >= 0
            ELSE true END AS keep
FROM s ORDER BY doc_id
"""


def _gopher_filters(spark, sf):
    """Gopher-style quality filter flags (word count, mean word length,
    symbol/bullet/ellipsis ratios) — the rule family large-scale text
    pipelines apply before training, all-native JVM."""
    from lexoid_spark.functions.textstats import gopher_quality_flags

    docs = _t(spark, sf, "documents")
    f = gopher_quality_flags(F.col("text"))
    return docs.select(
        "doc_id",
        f.getField("word_count_ok").alias("word_count_ok"),
        f.getField("mean_word_len_ok").alias("mean_word_len_ok"),
        f.getField("symbol_ratio_ok").alias("symbol_ratio_ok"),
        f.getField("bullet_ratio_ok").alias("bullet_ratio_ok"),
        f.getField("ellipsis_ratio_ok").alias("ellipsis_ratio_ok"),
        f.getField("passes").alias("passes"),
        f.getField("stopword_ok").alias("stopword_ok"),
        f.getField("passes_strict").alias("passes_strict"),
    ).transform(_srt("doc_id"))


_GOPHER_SQL = r"""
WITH m AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text, ' '), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
           AS n_symbols
  FROM documents
),
c AS (
  SELECT doc_id, toks, len(toks) AS n, lines, n_symbols,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
         ELSE 0.0 END AS mean_len,
         len(lines) AS n_lines,
         len(list_filter(lines, ln ->
             starts_with(trim(ln, ' '), '-')
             OR starts_with(trim(ln, ' '), '*')
             OR starts_with(trim(ln, ' '), '•'))) AS bullet_lines,
         len(list_filter(lines, ln -> ends_with(ln, '...')))
           AS ellipsis_lines
  FROM m
)
SELECT doc_id,
       n >= 50 AND n <= 100000 AS word_count_ok,
       mean_len >= 3.0 AND mean_len <= 10.0 AS mean_word_len_ok,
       CASE WHEN n > 0 THEN n_symbols / n <= 0.1 ELSE FALSE END
         AS symbol_ratio_ok,
       CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9
            ELSE TRUE END AS bullet_ratio_ok,
       CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3
            ELSE TRUE END AS ellipsis_ratio_ok,
       (n >= 50 AND n <= 100000)
       AND (mean_len >= 3.0 AND mean_len <= 10.0)
       AND (CASE WHEN n > 0 THEN n_symbols / n <= 0.1 ELSE FALSE END)
       AND (CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9
                 ELSE TRUE END)
       AND (CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3
                 ELSE TRUE END) AS passes,
       len(list_intersect(toks, ['the','be','to','of','and','that',
                                 'have','with'])) >= 2 AS stopword_ok,
       ((n >= 50 AND n <= 100000)
        AND (mean_len >= 3.0 AND mean_len <= 10.0)
        AND (CASE WHEN n > 0 THEN n_symbols / n <= 0.1 ELSE FALSE END)
        AND (CASE WHEN n_lines > 0 THEN bullet_lines / n_lines <= 0.9
                  ELSE TRUE END)
        AND (CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines <= 0.3
                  ELSE TRUE END)
        AND len(list_intersect(toks, ['the','be','to','of','and','that',
                                      'have','with'])) >= 2)
         AS passes_strict
FROM c ORDER BY doc_id
"""


def _doc_winnow(spark, sf):
    """Winnowing fingerprints (rolling-window k-gram min selection):
    the localizing document sketch — shared fingerprints point at the
    shared PASSAGE, not just the document pair."""
    from lexoid_spark.functions.textstats import winnow_fingerprints

    docs = _t(spark, sf, "documents")
    return (
        winnow_fingerprints(docs, "doc_id", "text", k=3, window=4)
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id", "fp"))
    )


_DOC_WINNOW_SQL = r"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         unnest(range(0, len(regexp_split_to_array(trim(text), '\s+')))) AS pos
  FROM documents WHERE length(trim(text)) > 0
),
g AS (
  SELECT doc_id, pos,
         CASE WHEN LEAD(tok, 2) OVER w IS NOT NULL THEN
           ('0x' || substr(md5(tok || ' ' || LEAD(tok, 1) OVER w
                                   || ' ' || LEAD(tok, 2) OVER w),
                           1, 15))::BIGINT
         END AS h
  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
a AS (
  SELECT doc_id, MIN(h) OVER f AS fp, COUNT(h) OVER f AS n
  FROM g WINDOW f AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
)
SELECT DISTINCT doc_id, fp FROM a WHERE n = 4 ORDER BY doc_id, fp
"""


def _dup_clusters(spark, sf):
    """Candidate pairs → duplicate CLUSTERS (connected components via
    min-label propagation) — the step between LSH and choosing a
    keeper. Oracle: recursive-CTE transitive closure over the same
    pair set (quadratic in component size — fine for the oracle corpus;
    the Spark side is the scale path)."""
    from lexoid_spark.functions.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    docs = _t(spark, sf, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_n=3
    )
    return connected_components(pairs).transform(_srt("id"))


_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE und AS (
  SELECT id_a AS a, id_b AS b FROM ({_MINHASH_PAIRS_SQL}) p
  UNION
  SELECT id_b AS a, id_a AS b FROM ({_MINHASH_PAIRS_SQL}) p
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a ORDER BY id
"""


def _dedup_keep_list(spark, sf):
    """The composed end-to-end dedup decision a training pipeline
    actually ships: exact dedup (normalized-text fingerprint keepers)
    ∩ near-dup cluster keepers (LSH pairs → connected components →
    keep the min id per cluster). Returns the final keep-list."""
    from lexoid_spark.functions.dedup import (
        connected_components,
        exact_dedup,
        lsh_candidate_pairs,
    )

    docs = _t(spark, sf, "documents")
    exact_keep = exact_dedup(docs, "doc_id", "text").select("doc_id")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_n=3
    )
    dropped = (
        connected_components(pairs)
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
    return exact_keep.join(dropped, "doc_id", "left_anti").transform(_srt("doc_id"))


_DEDUP_KEEP_SQL = f"""
WITH exact_keep AS (
  SELECT doc_id FROM ({_EXACT_DEDUP_SQL.replace("SELECT doc_id, n_dups",
                                                "SELECT doc_id")}) e
),
clusters AS ({_DUP_CLUSTERS_SQL}),
dropped AS (SELECT id AS doc_id FROM clusters WHERE id != cluster_id)
SELECT k.doc_id AS doc_id FROM exact_keep k
WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY doc_id
"""


def _simhash_pairs(spark, sf):
    """Portable SimHash near-dup pairs — fully native JVM (explode →
    md5-derived 60-bit token hash → per-bit majority groupBy → 15-bit
    block pigeonhole join), DuckDB-mirrorable bit-for-bit."""
    from lexoid_spark.functions.dedup import simhash_near_pairs_portable

    docs = _tp(spark, sf, "documents")
    return simhash_near_pairs_portable(
        docs, "doc_id", "text", max_hamming=3
    ).transform(_srt("id_a", "id_b"))


_SIMHASH_PAIRS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS hv FROM toks),
bitscore AS (
  SELECT doc_id, b.bp,
         SUM(CASE WHEN (hv >> b.bp) & 1 = 1 THEN 1 ELSE -1 END) AS score
  FROM h, (SELECT unnest(range(60)) AS bp) b
  GROUP BY doc_id, b.bp
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN score > 0 THEN (1::BIGINT << bp) ELSE 0 END)::BIGINT AS sim
  FROM bitscore GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, sim, b.block, (sim >> (15*b.block)::INT) & 32767 AS val
  FROM sig, (SELECT unnest(range(4)) AS block) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sa, b.sim AS sb
  FROM blocks a JOIN blocks b ON a.block=b.block AND a.val=b.val
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY id_a, id_b
"""


# ---- embeddings: similarity search ----

def _ann_cosine_topk(spark, sf):
    from lexoid_spark.functions.similarity import cosine_topk

    emb = _tp(spark, sf, "embeddings")
    return cosine_topk(emb, query_ids=list(range(10)), k=5).transform(_srt(
        "qid", "rank"
    ))


_ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
d AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS nv FROM embeddings)
SELECT qid, nid, rank FROM (
  SELECT q.qid, d.nid,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY list_cosine_similarity(q.qv, d.nv) DESC, d.nid ASC
         ) AS rank
  FROM q CROSS JOIN d WHERE d.nid != q.qid
) t WHERE rank <= 5 ORDER BY qid, rank
"""


def _ann_sq8_topk(spark, sf):
    """IVF top-k over int8 scalar-quantized vectors (FAISS SQ8
    analogue) — the 4x memory/bandwidth compression an embedding index
    runs at corpus scale. Scoring is EXACT 64-bit integer arithmetic
    (quantize via floor(x*127/maxabs + 0.5) — no ROUND ties), so the
    oracle reproduces the ranking bit-for-bit by construction; only
    the coarse probe choice shares the float-cosine ranking caveat of
    ann_ivf_topk."""
    from lexoid_spark.functions.similarity import sq8_topk

    emb = _tp(spark, sf, "embeddings")
    return sq8_topk(
        emb, query_ids=list(range(10)), k=5, n_centroids=8, nprobe=2,
    ).transform(_srt("qid", "rank"))


_ANN_SQ8_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
sq AS (
  SELECT vid, cid,
         CASE WHEN ma = 0 THEN list_transform(vv, x -> CAST(0 AS BIGINT))
              ELSE list_transform(vv,
                x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS nq
  FROM (SELECT vid, cid, vv,
               list_max(list_transform(vv, x -> abs(x))) AS ma
        FROM assigned) t
),
sqn AS (SELECT vid, cid, nq,
               list_sum(list_transform(nq, x -> x * x)) AS nn FROM sq),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC
           ) AS r
    FROM q CROSS JOIN cents c
  ) t WHERE r <= 2
),
pq AS (
  SELECT qid, cid,
         CASE WHEN ma = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT))
              ELSE list_transform(qv,
                x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS qq
  FROM (SELECT qid, cid, qv,
               list_max(list_transform(qv, x -> abs(x))) AS ma
        FROM probes) t
),
pqn AS (SELECT qid, cid, qq,
               list_sum(list_transform(qq, x -> x * x)) AS qn FROM pq),
cand AS (
  SELECT DISTINCT p.qid, s.vid AS nid, p.qq, p.qn, s.nq, s.nn
  FROM pqn p JOIN sqn s ON p.cid = s.cid
  WHERE s.vid != p.qid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY CASE WHEN qn = 0 OR nn = 0 THEN -2.0
             ELSE CAST(list_sum(list_transform(list_zip(qq, nq),
                    x -> x[1] * x[2])) AS DOUBLE)
                  / sqrt(CAST(qn AS DOUBLE) * CAST(nn AS DOUBLE)) END
             DESC, nid ASC
         ) AS rank
  FROM cand
) t WHERE rank <= 5 ORDER BY qid, rank
"""


def _ann_ivfpq_topk(spark, sf):
    """IVF-PQ top-k (FAISS IVFx,PQy analogue): coarse IVF routing +
    product quantization to m=8 byte codes per vector, scored by
    asymmetric distance (ADC) against a per-query integer lookup
    table. The deterministic engine-exact variant: vectors are int8
    scalar-quantized first, sub-codebooks are the first-16 vectors'
    subvectors, and every distance is exact 64-bit integer arithmetic
    — the oracle replays encode+ADC bit-for-bit."""
    from lexoid_spark.functions.similarity import ivfpq_topk

    emb = _t(spark, sf, "embeddings")
    return ivfpq_topk(
        emb, query_ids=list(range(10)), k=5, n_centroids=8, nprobe=2,
        m=8, k_pq=16,
    ).transform(_srt("qid", "rank"))


_ANN_IVFPQ_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vid, cid FROM (
    SELECT e.vec_id AS vid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS qv
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma FROM e) t
),
cb AS (
  SELECT list(code ORDER BY j, c, t) AS cbf FROM (
    SELECT ju.j, q8.vec_id AS c, tu.t,
           qv[CAST(ju.j * 8 + tu.t + 1 AS INT)] AS code
    FROM q8, range(8) ju(j), range(8) tu(t)
    WHERE q8.vec_id < 16
  ) z
),
enc AS (
  SELECT a.vid, a.cid,
    list_transform(range(8), j ->
      list_sort(list_transform(range(16), c ->
        {'d': list_sum(list_transform(range(8), t ->
            (qv[CAST(j * 8 + t + 1 AS INT)]
             - cbf[CAST((j * 16 + c) * 8 + t + 1 AS INT)])
          * (qv[CAST(j * 8 + t + 1 AS INT)]
             - cbf[CAST((j * 16 + c) * 8 + t + 1 AS INT)]))),
         'c': c}))[1]['c']) AS codes
  FROM assigned a JOIN q8 ON q8.vec_id = a.vid, cb
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC
           ) AS r
    FROM q CROSS JOIN cents c
  ) t WHERE r <= 2
),
plut AS (
  SELECT p.qid, p.cid,
    list_transform(range(128), i ->
      list_sum(list_transform(range(8), t ->
        (qa.qv[CAST((i // 16) * 8 + t + 1 AS INT)]
         - cbf[CAST(i * 8 + t + 1 AS INT)])
      * (qa.qv[CAST((i // 16) * 8 + t + 1 AS INT)]
         - cbf[CAST(i * 8 + t + 1 AS INT)])))) AS lut
  FROM probes p JOIN q8 qa ON qa.vec_id = p.qid, cb
),
cand AS (
  SELECT DISTINCT p.qid, enc.vid AS nid, p.lut, enc.codes
  FROM plut p JOIN enc ON p.cid = enc.cid
  WHERE enc.vid != p.qid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY list_sum(list_transform(range(8), j ->
             lut[CAST(j * 16 + codes[CAST(j + 1 AS INT)] + 1 AS INT)]))
             ASC, nid ASC
         ) AS rank
  FROM cand
) t WHERE rank <= 5 ORDER BY qid, rank
"""


def _ann_ivf_topk(spark, sf):
    from lexoid_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_topk(
        emb, query_ids=list(range(10)), k=5, n_centroids=8, nprobe=2,
        n_iter=1, train_modulus=4,
    ).transform(_srt("qid", "rank"))


# n_iter=1, train_modulus=4: one minibatch Lloyd refinement of the
# first-C seed (assignment pass over vec_id % 4 = 0 only — the
# full-corpus pass per refinement is the scale cost); centroid means
# rounded to 6 dp on BOTH engines so distributed float summation order
# cannot flip a rank
_ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
a0 AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents0 c
    WHERE e.vec_id % 4 = 0
  ) t WHERE r = 1
),
dims AS (
  SELECT cid, unnest(vv) AS val, unnest(range(1, len(vv) + 1)) AS pos
  FROM a0
),
avgd AS (
  SELECT cid, pos, ROUND(AVG(val), 6) AS c FROM dims GROUP BY cid, pos
),
cents AS (SELECT cid, list(c ORDER BY pos) AS cv FROM avgd GROUP BY cid),
assigned AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC
           ) AS r
    FROM q CROSS JOIN cents c
  ) t WHERE r <= 2
),
cand AS (
  SELECT DISTINCT p.qid, a.vid AS nid, p.qv, a.vv
  FROM probes p JOIN assigned a ON p.cid = a.cid
  WHERE a.vid != p.qid
)
SELECT qid, nid, rank FROM (
  SELECT qid, nid,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY list_cosine_similarity(qv, vv) DESC, nid ASC
         ) AS rank
  FROM cand
) t WHERE rank <= 5 ORDER BY qid, rank
"""


def _emb_near_dup(spark, sf):
    """Embedding-cosine near-dup pairs, default (GEMM) impl: per-cluster
    applyInPandas, S = X·Xᵀ per IVF bucket, upper triangle vs
    tau·‖x_i‖‖x_j‖ — ~4× the interpreted HOF fold at sf0.1 and the
    correct shape for wide embeddings at scale (O(b²·d) inside BLAS).
    BLAS and the fold agree to ~1e-15, and no synthetic cosine sits
    that close to tau, so the same DuckDB oracle covers both."""
    from lexoid_spark.functions.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(emb, tau=0.35, n_centroids=8).transform(_srt(
        "id_a", "id_b"
    ))


def _emb_near_dup_hof(spark, sf):
    """Bit-exact oracle cross-check variant: the native higher-order
    fold mirrors the DuckDB oracle's summation order exactly (the GEMM
    default trades that for BLAS throughput)."""
    from lexoid_spark.functions.similarity import embedding_near_dup_pairs

    emb = _tp(spark, sf, "embeddings")
    return embedding_near_dup_pairs(
        emb, tau=0.35, n_centroids=8, impl="hof"
    ).transform(_srt("id_a", "id_b"))


_EMB_NEAR_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
)
SELECT a.vid AS id_a, b.vid AS id_b
FROM assigned a JOIN assigned b
  ON a.cid = b.cid AND a.vid < b.vid
WHERE list_cosine_similarity(a.vv, b.vv) >= 0.35
ORDER BY id_a, id_b
"""


# ---- multimodal binary columns (deterministic FAKE codec; real
# Spark plumbing: binary columns through mapInPandas kernels) ----

def _mm_images(spark, sf):
    from lexoid_spark.functions.multimodal import fake_image_udf

    docs = _t(spark, sf, "documents")
    w = (F.col("n_chars") % 1900 + 100).cast("int")
    h = ((F.col("n_chars") * 7) % 1200 + 50).cast("int")
    c = (F.col("doc_id") % 3 + 1).cast("int")
    return docs.select(
        "doc_id", fake_image_udf(w, h, c).alias("payload")
    )


def _image_meta(spark, sf):
    from lexoid_spark.functions.multimodal import image_meta

    imgs = _mm_images(spark, sf)
    return (
        image_meta(imgs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_IMAGE_META_SQL = """
SELECT doc_id,
       CAST(n_chars % 1900 + 100 AS INT) AS width,
       CAST((n_chars * 7) % 1200 + 50 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _image_resize(spark, sf):
    from lexoid_spark.functions.multimodal import resize_image_meta

    imgs = _mm_images(spark, sf)
    return (
        resize_image_meta(imgs, max_size=1000, id_col="doc_id",
                          bin_col="payload")
        .select(F.col("id").alias("doc_id"), "new_width", "new_height",
                "resized")
        .transform(_srt("doc_id"))
    )


_IMAGE_RESIZE_SQL = """
WITH m AS (
  SELECT doc_id,
         CAST(n_chars % 1900 + 100 AS INT) AS w,
         CAST((n_chars * 7) % 1200 + 50 AS INT) AS h
  FROM documents
)
SELECT doc_id,
  CASE WHEN GREATEST(w, h) > 1000
       THEN CAST(floor(w * (1000.0 / GREATEST(w, h))) AS INT) ELSE w END
  AS new_width,
  CASE WHEN GREATEST(w, h) > 1000
       THEN CAST(floor(h * (1000.0 / GREATEST(w, h))) AS INT) ELSE h END
  AS new_height,
  GREATEST(w, h) > 1000 AS resized
FROM m ORDER BY doc_id
"""


def _png_images(spark, sf):
    """Documents → REAL PNG payloads (stdlib encoder, deterministic
    pixels from (w, h, seed)) — dims kept small so the codec work is
    bounded per row."""
    from lexoid_spark.functions.multimodal import png_image_udf

    docs = _tp(spark, sf, "documents")
    w = (F.col("n_chars") % 120 + 8).cast("int")
    h = ((F.col("n_chars") * 7) % 90 + 8).cast("int")
    return _materialize(docs.select(
        "doc_id", png_image_udf(w, h, (F.col("doc_id") % 256).cast("int")
                                ).alias("payload")
    ))


def _png_meta(spark, sf):
    """image_meta over REAL PNG bytes: the kernel walks IHDR via the
    stdlib codec (kernels/png_codec.py), so a hash match proves the
    encode→parse round trip, not just arithmetic."""
    from lexoid_spark.functions.multimodal import image_meta

    imgs = _png_images(spark, sf)
    return (
        image_meta(imgs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_PNG_META_SQL = """
SELECT doc_id,
       CAST(n_chars % 120 + 8 AS INT) AS width,
       CAST((n_chars * 7) % 90 + 8 AS INT) AS height,
       3 AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _webp_meta(spark, sf):
    """image_meta over WebP containers (kernels/webp_meta.py),
    rotating all three stream flavors on doc_id — VP8 lossy (14-bit
    dims after the 9D012A start code), VP8L lossless (LSB-first
    width-1/height-1/alpha bitstream) and VP8X extended (24-bit
    canvas dims + alpha flag) — so a hash match pins every header
    layout. Header-metadata fixtures (the pixel arms quarantine
    typed); dims/alpha are closed-form in the doc row, so DuckDB
    predicts every value."""
    from lexoid_spark.functions.multimodal import image_meta
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.webp_meta import make_test_webp

    def webp_bytes(d: int, nc: int) -> bytes:
        return make_test_webp(
            nc % 120 + 8, (nc * 7) % 90 + 8,
            flavor=("vp8", "vp8l", "vp8x")[d % 3], alpha=bool(d % 2))

    docs = _t(spark, sf, "documents")
    imgs = docs.select(
        "doc_id",
        row_udf(webp_bytes, "binary")("doc_id", "n_chars").alias("payload"))
    return (
        image_meta(imgs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_WEBP_META_SQL = """
SELECT doc_id,
       CAST(n_chars % 120 + 8 AS INT) AS width,
       CAST((n_chars * 7) % 90 + 8 AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3           -- VP8 lossy
                 WHEN doc_id % 2 = 1 THEN 4           -- alpha bit set
                 ELSE 3 END AS INT) AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _gif_meta(spark, sf):
    """image_meta over REAL GIF bytes: the kernel reads the logical
    screen descriptor via the stdlib LZW codec (kernels/gif_codec.py),
    so a hash match proves the encode→parse round trip."""
    from lexoid_spark.functions.multimodal import gif_image_udf, image_meta

    docs = _t(spark, sf, "documents")
    w = (F.col("n_chars") % 80 + 8).cast("int")
    h = ((F.col("n_chars") * 3) % 60 + 8).cast("int")
    gifs = docs.select(
        "doc_id", gif_image_udf(w, h, (F.col("doc_id") % 64).cast("int")
                                ).alias("payload")
    )
    return (
        image_meta(gifs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_GIF_META_SQL = """
SELECT doc_id,
       CAST(n_chars % 80 + 8 AS INT) AS width,
       CAST((n_chars * 3) % 60 + 8 AS INT) AS height,
       3 AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _jpeg_meta(spark, sf):
    """image_meta over real JPEG marker streams: dims/components read
    from the SOF frame header (kernels/jpeg_meta.py) — the wild
    format's metadata path; pixel decode stays behind the codec seam."""
    from lexoid_spark.functions.multimodal import image_meta
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.jpeg_meta import make_test_jpeg_header

    def jpg(d: int) -> bytes:
        return make_test_jpeg_header(d % 1600 + 16, (d * 3) % 900 + 16,
                                     d % 3 + 1)

    docs = _t(spark, sf, "documents")
    jpgs = docs.select("doc_id",
                       row_udf(jpg, "binary")("doc_id").alias("payload"))
    return (
        image_meta(jpgs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_JPEG_META_SQL = """
SELECT doc_id,
       CAST(doc_id % 1600 + 16 AS INT) AS width,
       CAST((doc_id * 3) % 900 + 16 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _resize_roundtrip(resized):
    """Chain the round-trip decode onto the resize output in ONE
    mapInPandas pass: dec_width/dec_height come from re-decoding the
    NEW payload, so they equal the rule's dims only if both codec
    directions actually work. (A join of the resize output against
    image_meta(resize output) computes the resize UDF once per side —
    pure plan duplication; chaining evaluates it once and drops the
    join shuffle.)"""
    schema = ("doc_id long, new_width int, new_height int, "
              "resized boolean, dec_width int, dec_height int")

    def kernel(batches):
        from lexoid_spark.functions.multimodal import decode_image_header

        for b in batches:
            rows = []
            for i, nw, nh, r, p in zip(b["id"], b["new_width"],
                                       b["new_height"], b["resized"],
                                       b["payload"]):
                hdr = decode_image_header(p)
                rows.append((i, nw, nh, r,
                             hdr[0] if hdr else None,
                             hdr[1] if hdr else None))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "new_width", "new_height", "resized",
                "dec_width", "dec_height"])

    return resized.mapInPandas(kernel, schema).transform(_srt("doc_id"))


def _png_resize(spark, sf):
    """Real-pixel resize round trip: resize_image_meta decodes the PNG,
    nearest-resamples, re-encodes; the output payload is then decoded
    AGAIN — dec_width/dec_height equal the rule's new dims only if
    both codec directions actually work."""
    from lexoid_spark.functions.multimodal import resize_image_meta

    return _resize_roundtrip(resize_image_meta(
        _png_images(spark, sf), max_size=64, id_col="doc_id",
        bin_col="payload",
    ))


_PNG_RESIZE_SQL = """
WITH m AS (
  SELECT doc_id,
         CAST(n_chars % 120 + 8 AS INT) AS w,
         CAST((n_chars * 7) % 90 + 8 AS INT) AS h
  FROM documents
), r AS (
  SELECT doc_id,
    CASE WHEN GREATEST(w, h) > 64
         THEN CAST(floor(w * (64.0 / GREATEST(w, h))) AS INT) ELSE w END
    AS new_width,
    CASE WHEN GREATEST(w, h) > 64
         THEN CAST(floor(h * (64.0 / GREATEST(w, h))) AS INT) ELSE h END
    AS new_height,
    GREATEST(w, h) > 64 AS resized
  FROM m
)
SELECT doc_id, new_width, new_height, resized,
       new_width AS dec_width, new_height AS dec_height
FROM r ORDER BY doc_id
"""


def _png_dialects(spark, sf):
    """Adam7-interlaced and 16-bit PNG dialects (the round-3 codec
    exclusions, now implemented): per doc, render the deterministic
    test raster, re-encode through one of the three dialect paths
    (Adam7 / 16-bit / Adam7+16-bit, rotating on doc_id % 3), decode
    THAT stream, and compare pixels against the plain-8-bit decode.
    DuckDB predicts roundtrip_ok=TRUE and the dims closed-form — a
    hash match proves the deinterlace lattice and high-byte sample
    path are exact, not just that headers parse. Reference handles
    both via PIL (lexoid/core/utils.py:65-89)."""
    import numpy as np

    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.png_codec import (
        make_test_png, png_decode, png_encode)

    def dialect_roundtrip(w: int, h: int, seed: int, variant: int) -> bool:
        base = png_decode(make_test_png(w, h, seed=seed))
        enc = png_encode(base, depth=16 if variant >= 1 else 8,
                         interlace=variant != 1)
        return bool(np.array_equal(png_decode(enc), base))

    docs = _tp(spark, sf, "documents")
    v = (F.col("doc_id") % 3).cast("int")
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("adam7"), F.lit("deep16"), F.lit("adam7_deep16")),
            v + 1).alias("dialect"),
        (F.col("n_chars") % 120 + 8).cast("int").alias("width"),
        ((F.col("n_chars") * 7) % 90 + 8).cast("int").alias("height"),
        row_udf(dialect_roundtrip, "boolean")(
            (F.col("n_chars") % 120 + 8).cast("int"),
            ((F.col("n_chars") * 7) % 90 + 8).cast("int"),
            (F.col("doc_id") % 256).cast("int"), v,
        ).alias("roundtrip_ok"),
    ).transform(_srt("doc_id"))


_PNG_DIALECTS_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'adam7'
            WHEN 1 THEN 'deep16' ELSE 'adam7_deep16' END AS dialect,
       CAST(n_chars % 120 + 8 AS INT) AS width,
       CAST((n_chars * 7) % 90 + 8 AS INT) AS height,
       TRUE AS roundtrip_ok
FROM documents ORDER BY doc_id
"""


def _jpeg_images(spark, sf):
    """Documents → REAL baseline JPEG payloads (from-scratch T.81
    encoder, kernels/jpeg_codec.py) — the real-JPEG fixture class.
    Dims bounded so per-row codec work stays small."""
    from lexoid_spark.functions.multimodal import jpeg_image_udf

    docs = _tp(spark, sf, "documents")
    w = (F.col("n_chars") % 96 + 8).cast("int")
    h = ((F.col("n_chars") * 5) % 72 + 8).cast("int")
    return _materialize(docs.select(
        "doc_id", jpeg_image_udf(w, h, (F.col("doc_id") % 64).cast("int")
                                 ).alias("payload")
    ))


def _jpeg_resize(spark, sf):
    """Real-JPEG-pixel resize round trip (the png_resize twin for the
    web's dominant format): resize_image_meta Huffman-decodes the
    baseline JPEG, IDCTs to pixels, nearest-resamples, re-encodes as
    JPEG; image_meta then re-parses the NEW payload's SOF header —
    dec_width/dec_height equal the rule's dims only if decode, encode
    and the resize rule all actually work on real JPEG bytes."""
    from lexoid_spark.functions.multimodal import resize_image_meta

    return _resize_roundtrip(resize_image_meta(
        _jpeg_images(spark, sf), max_size=64, id_col="doc_id",
        bin_col="payload",
    ))


_JPEG_RESIZE_SQL = """
WITH m AS (
  SELECT doc_id,
         CAST(n_chars % 96 + 8 AS INT) AS w,
         CAST((n_chars * 5) % 72 + 8 AS INT) AS h
  FROM documents
), r AS (
  SELECT doc_id,
    CASE WHEN GREATEST(w, h) > 64
         THEN CAST(floor(w * (64.0 / GREATEST(w, h))) AS INT) ELSE w END
    AS new_width,
    CASE WHEN GREATEST(w, h) > 64
         THEN CAST(floor(h * (64.0 / GREATEST(w, h))) AS INT) ELSE h END
    AS new_height,
    GREATEST(w, h) > 64 AS resized
  FROM m
)
SELECT doc_id, new_width, new_height, resized,
       new_width AS dec_width, new_height AS dec_height
FROM r ORDER BY doc_id
"""


def _jpeg_progressive(spark, sf):
    """Progressive (SOF2) JPEG decode — the second-most-common wild
    JPEG mode, new this round: per doc, encode the deterministic test
    raster BOTH ways (baseline SOF0 and the progressive scan script:
    DC first/refine + per-component AC bands with EOB runs and
    correction bits), decode both, and compare pixels. Same quant
    tables ⇒ identical coefficients ⇒ the streams must decode
    IDENTICALLY; DuckDB predicts pixels_match=TRUE and the dims
    closed-form, so a hash match proves the multi-scan coefficient
    accumulation is bit-exact. Reference decodes progressive via PIL
    (utils.py:65-89)."""
    import numpy as np

    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.jpeg_codec import jpeg_decode, jpeg_encode

    def prog_roundtrip(w: int, h: int, seed: int) -> bool:
        y = np.arange(h)[:, None, None]
        x = np.arange(w)[None, :, None]
        ch = np.arange(3)[None, None, :]
        px = ((x * 31 + y * 17 + ch * 7 + seed * 13) % 256).astype(np.uint8)
        sub = "420" if seed % 2 else "444"
        base = jpeg_decode(jpeg_encode(px, quality=90, subsample=sub))
        prog = jpeg_decode(jpeg_encode(px, quality=90, subsample=sub,
                                       progressive=True))
        return bool(np.array_equal(base, prog))

    # deterministic 1-in-10 doc subset + small rasters: the scan
    # script is 10 python-loop entropy passes per doc (4 codec runs),
    # ~10x the baseline codec cost — full-corpus coverage belongs to
    # jpeg_resize; this query proves the SOF2 machinery
    docs = _tp(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    return docs.select(
        "doc_id",
        (F.col("n_chars") % 48 + 8).cast("int").alias("width"),
        ((F.col("n_chars") * 5) % 36 + 8).cast("int").alias("height"),
        F.element_at(F.array(F.lit("444"), F.lit("420")),
                     (F.col("doc_id") % 2).cast("int") + 1
                     ).alias("subsample"),
        row_udf(prog_roundtrip, "boolean")(
            (F.col("n_chars") % 48 + 8).cast("int"),
            ((F.col("n_chars") * 5) % 36 + 8).cast("int"),
            (F.col("doc_id") % 64).cast("int"),
        ).alias("pixels_match"),
    ).transform(_srt("doc_id"))


_JPEG_PROGRESSIVE_SQL = """
SELECT doc_id,
       CAST(n_chars % 48 + 8 AS INT) AS width,
       CAST((n_chars * 5) % 36 + 8 AS INT) AS height,
       CASE WHEN (doc_id % 64) % 2 = 1 THEN '420' ELSE '444' END
         AS subsample,
       TRUE AS pixels_match
FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id
"""


def _audio_meta(spark, sf):
    from lexoid_spark.functions.multimodal import audio_meta, fake_audio_udf

    docs = _t(spark, sf, "documents")
    auds = docs.select(
        "doc_id",
        fake_audio_udf(
            F.lit(16000), (F.col("n_chars") % 100000 + 16000).cast("int")
        ).alias("payload"),
    )
    return (
        audio_meta(auds, id_col="doc_id")
        .select(F.col("id").alias("doc_id"), "sample_rate", "n_samples",
                "duration_sec")
        .transform(_srt("doc_id"))
    )


_AUDIO_META_SQL = """
-- duration: exact integer half-up microseconds, then /1e6 — float
-- ROUND diverges between engines on the exact decimal ties n/sr hits
SELECT doc_id, 16000 AS sample_rate,
       CAST(n_chars % 100000 + 16000 AS BIGINT) AS n_samples,
       ((2 * CAST(n_chars % 100000 + 16000 AS BIGINT) * 1000000 + 16000)
        // (2 * 16000)) / 1000000.0 AS duration_sec
FROM documents ORDER BY doc_id
"""


def _mp3_meta(spark, sf):
    """audio_meta over MP3 frame streams (kernels/mp3_meta.py): the
    sample count comes from WALKING every Layer III frame header
    (bitrate/sample-rate index tables, padding arithmetic, ID3v2
    syncsafe prefix and ID3v1 trailer skipped) — rotating the
    sample-rate and bitrate indices on doc fields so each table row
    is exercised. n_samples = 1152 × frames (MPEG-1), closed-form, so
    DuckDB predicts every value including the exact-integer half-up
    duration. Metadata fixture class (decode arms quarantine typed)."""
    from lexoid_spark.functions.multimodal import audio_meta
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.mp3_meta import make_test_mp3

    def mp3_bytes(d: int, nc: int) -> bytes:
        return make_test_mp3(
            nc % 20 + 3, kbps=(96, 128, 160, 192)[d % 4],
            rate=(44100, 48000, 32000)[d % 3], id3=bool(d % 2))

    docs = _t(spark, sf, "documents")
    auds = docs.select(
        "doc_id",
        row_udf(mp3_bytes, "binary")("doc_id", "n_chars").alias("payload"))
    return (
        audio_meta(auds, id_col="doc_id")
        .select(F.col("id").alias("doc_id"), "sample_rate", "n_samples",
                "duration_sec")
        .transform(_srt("doc_id"))
    )


_MP3_META_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            ELSE 32000 END AS INT) AS sample_rate,
       CAST(1152 * (n_chars % 20 + 3) AS BIGINT) AS n_samples,
       ((2 * CAST(1152 * (n_chars % 20 + 3) AS BIGINT) * 1000000
         + CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           ELSE 32000 END)
        // (2 * CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             ELSE 32000 END)) / 1000000.0 AS duration_sec
FROM documents ORDER BY doc_id
"""


def _audio_chunks(spark, sf):
    """Fixed-duration audio chunking (ASR batching primitive): one row
    per chunk via the UDTF-shaped mapInPandas kernel."""
    from lexoid_spark.functions.multimodal import audio_chunks, fake_audio_udf

    docs = _t(spark, sf, "documents")
    auds = docs.select(
        "doc_id",
        fake_audio_udf(
            F.lit(100), (F.col("n_chars") % 1000 + 50).cast("int")
        ).alias("payload"),
    )
    return (
        audio_chunks(auds, chunk_sec=3.0, id_col="doc_id")
        .select(F.col("id").alias("doc_id"), "chunk_idx", "start_sample",
                "n_samples")
        .transform(_srt("doc_id", "chunk_idx"))
    )


_AUDIO_CHUNKS_SQL = """
WITH a AS (
  SELECT doc_id, CAST(n_chars % 1000 + 50 AS BIGINT) AS n FROM documents
),
s AS (SELECT doc_id, n, UNNEST(range(0, n, 300)) AS st FROM a)
SELECT doc_id, CAST(st / 300 AS INT) AS chunk_idx, st AS start_sample,
       CASE WHEN n - st < 300 THEN n - st ELSE 300 END AS n_samples
FROM s ORDER BY doc_id, chunk_idx
"""


def _video_frames(spark, sf):
    from lexoid_spark.functions.multimodal import fake_video_udf, frame_sample

    docs = _tp(spark, sf, "documents")
    vids = docs.select(
        "doc_id",
        fake_video_udf(
            F.lit(320), F.lit(240), (F.col("n_chars") % 50 + 1).cast("int")
        ).alias("payload"),
    )
    return (
        frame_sample(vids, every_n=7, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "frame_idx")
        .transform(_srt("doc_id", "frame_idx"))
    )


_VIDEO_FRAMES_SQL = """
SELECT doc_id, CAST(UNNEST(range(0, n_chars % 50 + 1, 7)) AS INT) AS frame_idx
FROM documents ORDER BY doc_id, frame_idx
"""


def _video_frame_ocr(spark, sf):
    """frame_ocr over REAL H.264 video, rotating the two container
    shapes on doc_id: raw Annex-B elementary streams (even) and MP4
    files carrying an avc1 track with full sample tables + avcC
    (odd; kernels/mp4_avc.py). Each doc carries doc_id%3+2 I_PCM IDR
    frames of glyph-rendered text; the operator decodes actual luma
    pixels and OCRs every 2nd frame. A hash match proves NAL framing,
    emulation prevention, SPS cropping, the MP4 sample-table walk,
    the I_PCM macroblock walk AND the glyph recognizer end to end.
    Reference has no video path — this is LLM-pipeline surface.
    Closed-form per (doc_id, frame), so DuckDB predicts every row."""
    from lexoid_spark.functions.multimodal import frame_ocr
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.h264 import h264_encode_ipcm
    from lexoid_spark.kernels.mp4_avc import make_test_mp4_h264
    from lexoid_spark.kernels.ocr_glyph import render_text_frames

    def h264_vid(d: int) -> bytes:
        frames = render_text_frames(
            [f"VID {d % 100} F {i}" for i in range(d % 3 + 2)], even=True)
        return (h264_encode_ipcm(frames) if d % 2 == 0
                else make_test_mp4_h264(frames))

    # 1-in-13 subset: encode+decode+OCR of k frames is honest
    # per-doc pixel work
    docs = _tp(spark, sf, "documents").filter(F.col("doc_id") % 13 == 0)
    vids = docs.select("doc_id",
                       row_udf(h264_vid, "binary")("doc_id").alias("payload"))
    return (
        frame_ocr(vids, every_n=2, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "frame_idx", "text")
        .transform(_srt("doc_id", "frame_idx"))
    )


_VIDEO_FRAME_OCR_SQL = """
SELECT doc_id,
       CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS INT) AS frame_idx,
       'VID ' || CAST(doc_id % 100 AS VARCHAR) || ' F '
       || CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS VARCHAR) AS text
FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id, frame_idx
"""


def _video_mjpeg_ocr(spark, sf):
    """frame_ocr over Motion-JPEG MP4 files (QTFF ``jpeg`` sample
    entry — the camera/scanner container): every sample is one
    grayscale JPEG from the from-scratch encoder, decoded back by the
    from-scratch baseline decoder, luma-OCR'd per sampled frame. A
    hash match pins the QTFF sample-table walk, per-sample JPEG
    Huffman+IDCT decode AND glyph recognition under real quantization
    noise (q=90 artifacts must stay inside the recognizer's
    confidence margin). Closed-form per (doc_id, frame), so DuckDB
    predicts every row. Reference has no video path — LLM-pipeline
    surface."""
    from lexoid_spark.functions.multimodal import frame_ocr
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.mp4_avc import make_test_mp4_mjpeg
    from lexoid_spark.kernels.ocr_glyph import render_text_frames

    def mjpeg_vid(d: int) -> bytes:
        return make_test_mp4_mjpeg(render_text_frames(
            [f"MJ {d % 100} F {i}" for i in range(d % 3 + 2)]), quality=90)

    # 1-in-11 subset (offset from video_frame_ocr's 1-in-13):
    # encode+decode of k JPEG frames is honest per-doc pixel work
    docs = _tp(spark, sf, "documents").filter(F.col("doc_id") % 11 == 7)
    vids = docs.select("doc_id",
                       row_udf(mjpeg_vid, "binary")("doc_id").alias("payload"))
    return (
        frame_ocr(vids, every_n=2, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "frame_idx", "text")
        .transform(_srt("doc_id", "frame_idx"))
    )


_VIDEO_MJPEG_OCR_SQL = """
SELECT doc_id,
       CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS INT) AS frame_idx,
       'MJ ' || CAST(doc_id % 100 AS VARCHAR) || ' F '
       || CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS VARCHAR) AS text
FROM documents WHERE doc_id % 11 = 7 ORDER BY doc_id, frame_idx
"""


def _avi_mjpeg_ocr(spark, sf):
    """frame_ocr over RIFF AVI Motion-JPEG — the classic
    camera/capture container: ``NNdc`` movi chunks, one JPEG per
    frame. Odd docs ship the OpenDML wild layout (every frame's
    Huffman tables OMITTED — the decoder must splice in the Annex K
    typical tables), even docs carry their own tables; both must OCR
    identically, so a hash match pins the RIFF chunk walk, the DHT
    repair AND per-frame JPEG decode under q=90 noise. Closed-form
    per (doc_id, frame). Reference has no video path — LLM-pipeline
    surface."""
    from lexoid_spark.functions.multimodal import frame_ocr
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.avi import make_test_avi_mjpeg
    from lexoid_spark.kernels.ocr_glyph import render_text_frames

    def avi_vid(d: int) -> bytes:
        return make_test_avi_mjpeg(render_text_frames(
            [f"AV {d % 100} F {i}" for i in range(d % 3 + 2)]),
            quality=90, omit_dht=bool(d % 2))

    docs = _tp(spark, sf, "documents").filter(F.col("doc_id") % 9 == 4)
    vids = docs.select("doc_id",
                       row_udf(avi_vid, "binary")("doc_id").alias("payload"))
    return (
        frame_ocr(vids, every_n=2, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "frame_idx", "text")
        .transform(_srt("doc_id", "frame_idx"))
    )


_AVI_MJPEG_OCR_SQL = """
SELECT doc_id,
       CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS INT) AS frame_idx,
       'AV ' || CAST(doc_id % 100 AS VARCHAR) || ' F '
       || CAST(UNNEST(range(0, doc_id % 3 + 2, 2)) AS VARCHAR) AS text
FROM documents WHERE doc_id % 9 = 4 ORDER BY doc_id, frame_idx
"""


def _flac_meta(spark, sf):
    """audio surface over REAL FLAC bytes (kernels/flac.py): sample
    rate + frame count from the STREAMINFO walk AND the integer SUM
    of every decoded sample — so a hash match pins the actual
    predictor + Rice-residual decode (rotating FIXED orders 0-2 AND
    the LPC subframe layout on doc_id), not just header parsing. CRCs are verified
    in-kernel. The sample pattern is closed-form in (doc_id, i), so
    DuckDB predicts the sums exactly (integer arithmetic end to
    end). Reference has no audio path — LLM-pipeline surface."""
    from lexoid_spark.functions.multimodal import (
        decode_audio_header,
        decode_audio_samples,
    )
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.flac import make_test_flac

    def flac_stats(d: int) -> list[int]:
        """[sample_rate, n_samples, sample_sum] of one generated FLAC."""
        b = make_test_flac(16000, d % 800 + 160, seed=d % 32, order=d % 3,
                           lpc=(d % 2 == 1 and d % 3 > 0))
        return [*decode_audio_header(b), int(decode_audio_samples(b).sum())]

    docs = _tp(spark, sf, "documents")
    m = row_udf(flac_stats, "array<bigint>")("doc_id")
    return (
        docs.select("doc_id", m.alias("m"))
        .select("doc_id", F.col("m")[0].cast("int").alias("sample_rate"),
                F.col("m")[1].alias("n_samples"),
                F.col("m")[2].alias("sample_sum"))
        .transform(_srt("doc_id"))
    )


_FLAC_META_SQL = """
WITH base AS (
  SELECT doc_id AS d, doc_id % 800 + 160 AS n, doc_id % 32 AS seed
  FROM documents
)
SELECT d AS doc_id, 16000 AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST((SELECT SUM(((i * 97 + seed * 31) % 2048) - 1024)
             FROM UNNEST(range(0, n)) AS t(i)) AS BIGINT)
         AS sample_sum
FROM base ORDER BY doc_id
"""


def _wav_meta(spark, sf):
    """audio_meta over REAL RIFF/WAVE bytes: sample rate and frame
    count come out of the stdlib chunk walk (kernels/wav_meta.py), so
    a hash match proves the encode→parse round trip; duration derives
    in-engine (same exact-integer half-up as audio_meta)."""
    from lexoid_spark.functions.multimodal import audio_meta
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.wav_meta import make_test_wav

    def wav(d: int) -> bytes:
        return make_test_wav(16000, d % 8000 + 1600, seed=d % 32)

    docs = _tp(spark, sf, "documents")
    wavs = docs.select("doc_id",
                       row_udf(wav, "binary")("doc_id").alias("payload"))
    return (
        audio_meta(wavs, id_col="doc_id")
        .select(F.col("id").alias("doc_id"), "sample_rate", "n_samples",
                "duration_sec")
        .transform(_srt("doc_id"))
    )


_WAV_META_SQL = """
SELECT doc_id, 16000 AS sample_rate,
       CAST(doc_id % 8000 + 1600 AS BIGINT) AS n_samples,
       ((2 * CAST(doc_id % 8000 + 1600 AS BIGINT) * 1000000 + 16000)
        // (2 * 16000)) / 1000000.0 AS duration_sec
FROM documents ORDER BY doc_id
"""


def _mp4_frames(spark, sf):
    """frame_sample over REAL MP4 box trees: dims from tkhd (16.16
    fixed point), frame count from stts — the stdlib ISO-BMFF walk
    (kernels/mp4_meta.py) driving the UDTF-shaped sampler."""
    from lexoid_spark.functions.multimodal import frame_sample
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.mp4_meta import make_test_mp4

    def mp4(d: int) -> bytes:
        return make_test_mp4(d % 640 + 16, (d * 3) % 360 + 16, d % 40 + 5)

    docs = _tp(spark, sf, "documents")
    vids = docs.select("doc_id",
                       row_udf(mp4, "binary")("doc_id").alias("payload"))
    return (
        frame_sample(vids, every_n=7, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "frame_idx", "width", "height")
        .transform(_srt("doc_id", "frame_idx"))
    )


_MP4_FRAMES_SQL = """
SELECT doc_id,
       CAST(UNNEST(range(0, doc_id % 40 + 5, 7)) AS INT) AS frame_idx,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST((doc_id * 3) % 360 + 16 AS INT) AS height
FROM documents ORDER BY doc_id, frame_idx
"""


# ---- extraction kernels with SQL-constructible ground truth ----

def _extract_html_h1(spark, sf):
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.html_md import html_to_md

    docs = _tp(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id", row_udf(html_to_md, "string")(html).alias("raw")
    ).transform(_srt("doc_id"))


_EXTRACT_HTML_SQL = """
SELECT doc_id,
       chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
       || repeat('=', 4 + length(CAST(doc_id AS VARCHAR)))
       || chr(10) || chr(10) || text || chr(10) || chr(10) AS raw
FROM documents ORDER BY doc_id
"""


def _extract_html_main(spark, sf):
    """Main-content extraction (north-rule boilerplate strip): the SAME
    closed-form document as extract_html_h1 wrapped in nav / cookie
    banner / page header / social-share / footer chrome — the
    tag+class blocklists must strip ALL of it, leaving exactly the
    h1+paragraph markdown the oracle predicts."""
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.html_md import html_to_md

    def html_main_to_md(html: str) -> str:
        return html_to_md(html, main_content=True)

    docs = _tp(spark, sf, "documents")
    html = F.concat(
        F.lit(
            "<html><body>"
            "<nav><ul><li>home</li><li>about</li></ul></nav>"
            "<div class='cookie-banner'><p>accept all cookies</p></div>"
            "<header><p>site chrome</p></header>"
            "<h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            "</p><div id='social-share'><p>share this</p></div>"
            "<footer><p>footer junk</p></footer></body></html>"
        ),
    )
    return docs.select(
        "doc_id", row_udf(html_main_to_md, "string")(html).alias("raw")
    ).transform(_srt("doc_id"))


# identical closed form to _EXTRACT_HTML_SQL: every chrome element is
# stripped, so only the h1 + paragraph survive
_EXTRACT_HTML_MAIN_SQL = """
SELECT doc_id,
       chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
       || repeat('=', 4 + length(CAST(doc_id AS VARCHAR)))
       || chr(10) || chr(10) || text || chr(10) || chr(10) AS raw
FROM documents ORDER BY doc_id
"""


def _html_charset_1252(spark, sf):
    """Charset-sniffed extraction (the Common-Crawl reality that pages
    are NOT all UTF-8): windows-1252 pages declaring iso-8859-1 via
    http-equiv meta — smart quotes / em-dash / ellipsis in the
    0x80-0x9F range that real iso-8859-1 does not define — must decode
    through the WHATWG sniff (BOM → meta prescan → strict UTF-8 →
    total 1252 fallback) to the exact codepoints. The reference
    reaches the same behavior class through BeautifulSoup's
    UnicodeDammit + iso-8859-1 retry (utils.py:356-363); the old
    errors='ignore' path would silently DROP every non-UTF-8 byte."""
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.html_md import html_to_md

    docs = _tp(spark, sf, "documents")
    pre = ('<html><head><meta http-equiv="Content-Type" '
           'content="text/html; charset=iso-8859-1"></head>'
           "<body><h1>Doc ").encode("ascii")
    # cp1252 bytes: “café—naïve”…±© (0x93/0x97/0x94/0x85 are 1252-only)
    post = b"\x93caf\xe9\x97na\xefve\x94\x85\xb1\xa9</p></body></html>"
    payload = F.concat(
        F.lit(bytearray(pre)),
        F.encode(F.col("doc_id").cast("string"), "US-ASCII"),
        F.lit(bytearray(b"</h1><p>")),
        F.lit(bytearray(post)),
    )
    return docs.select(
        "doc_id", row_udf(html_to_md, "string")(payload).alias("raw")
    ).transform(_srt("doc_id"))


_HTML_CHARSET_SQL = """
SELECT doc_id,
       chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
       || repeat('=', 4 + length(CAST(doc_id AS VARCHAR)))
       || chr(10) || chr(10) || '“café—naïve”…±©' || chr(10) || chr(10)
       AS raw
FROM documents ORDER BY doc_id
"""


def _rtf_extract(spark, sf):
    """RTF extraction through the txt arm (text/rtf sniffs as txt,
    where raw control words would be silently-poor output): the
    state-machine kernel must skip the font table, honor \\uc1
    Unicode fallbacks, decode \\'xx through the windows-1252 table
    and map \\par to newline — the oracle predicts the exact
    recovered text. Reference has no RTF path — web corpora do."""
    from lexoid_spark.functions.udfs import _txt_decode, row_udf

    docs = _tp(spark, sf, "documents")
    body = F.concat(
        F.lit("{\\rtf1\\ansi\\ansicpg1252"
              "{\\fonttbl{\\f0 Times;}}"
              "{\\*\\generator lexoid-fixture;}"
              "\\uc1\\pard\\f0 Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" \\'97 "), F.col("text"),
        F.lit("\\par tail "), F.col("source"), F.lit("}"),
    )
    return docs.select(
        "doc_id",
        row_udf(_txt_decode, "string")(F.encode(body, "UTF-8"))
        .alias("raw"),
    ).transform(_srt("doc_id"))


_RTF_EXTRACT_SQL = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' — ' || text
       || chr(10) || 'tail ' || source AS raw
FROM documents ORDER BY doc_id
"""


def _epub_extract(spark, sf):
    """EPUB extraction (books — the container a training corpus
    actually ingests at scale): deterministic two-chapter EPUBs
    (mimetype + container.xml + OPF manifest/spine + XHTML chapters)
    built per doc, parsed by the stdlib zip+XML+HTML kernel chain in
    SPINE order. The oracle predicts the exact concatenated markdown,
    so a hash match pins container resolution, OPF spine ordering and
    the chapter HTML conversion end to end. Reference has no EPUB
    path — LLM-pipeline surface."""
    from lexoid_spark.corpus.gen import make_test_epub
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.office_md import epub_to_md

    def epub_bytes(d: int, text: str, source: str) -> bytes:
        return make_test_epub([
            (f"Doc {d} Ch 1", text),
            (f"Doc {d} Ch 2", f"chapter two of {source}"),
        ])

    # _tp: zip+XML+HTML per doc is compute-bound — fan out past the
    # ≤3 parquet splits before the heavy map
    docs = _tp(spark, sf, "documents")
    return docs.select(
        "doc_id",
        row_udf(epub_to_md, "string")(
            row_udf(epub_bytes, "binary")("doc_id", "text", "source")
        ).alias("raw"),
    ).transform(_srt("doc_id"))


_EPUB_EXTRACT_SQL = """
SELECT doc_id,
       chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || ' Ch 1'
       || chr(10)
       || repeat('=', 9 + length(CAST(doc_id AS VARCHAR)))
       || chr(10) || chr(10) || text || chr(10) || chr(10)
       || chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
       || ' Ch 2' || chr(10)
       || repeat('=', 9 + length(CAST(doc_id AS VARCHAR)))
       || chr(10) || chr(10) || 'chapter two of ' || source
       || chr(10) || chr(10) AS raw
FROM documents ORDER BY doc_id
"""


def _extract_segments_n(spark, sf):
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.html_md import html_to_md
    from lexoid_spark.kernels.segmenter import segment_md

    def segment_count(md: str) -> int:
        return len(segment_md(md))

    docs = _t(spark, sf, "documents")
    n = (F.col("n_chars") % 4 + 2).cast("int")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1>"),
        F.repeat(F.lit("<h3>Sec</h3><p>body words</p>"), n),
        F.lit("</body></html>"),
    )
    raw = row_udf(html_to_md, "string")(html)
    return docs.select(
        "doc_id", row_udf(segment_count, "int")(raw).alias("n_segments")
    ).transform(_srt("doc_id"))


_EXTRACT_SEGMENTS_SQL = """
SELECT doc_id, CAST(n_chars % 4 + 2 + 1 AS INT) AS n_segments
FROM documents ORDER BY doc_id
"""


def _email_embed(spark, sf):
    from lexoid_spark.functions.columns import embed_email_links

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("contact "), F.col("source"), F.lit("@corp.example about "),
        F.substring("text", 1, 40),
    )
    return docs.select(
        "doc_id", embed_email_links(raw).alias("wrapped")
    ).transform(_srt("doc_id"))


_EMAIL_EMBED_SQL = """
SELECT doc_id,
       'contact <' || source || '@corp.example> about ' || substr(text, 1, 40)
       AS wrapped
FROM documents ORDER BY doc_id
"""


def _md_url_extract(spark, sf):
    from lexoid_spark.functions.columns import extract_md_urls

    docs = _t(spark, sf, "documents")
    md = F.concat(
        F.lit("see [link](http://a.test/"), F.col("doc_id").cast("string"),
        F.lit(") or http://b.test/"), F.col("doc_id").cast("string"),
        F.lit(" end"),
    )
    return (
        docs.select("doc_id", F.explode(extract_md_urls(md)).alias("url"))
        .transform(_srt("doc_id", "url"))
    )


_MD_URL_SQL = """
SELECT doc_id, 'http://a.test/' || CAST(doc_id AS VARCHAR) AS url FROM documents
UNION ALL
SELECT doc_id, 'http://b.test/' || CAST(doc_id AS VARCHAR) AS url FROM documents
ORDER BY doc_id, url
"""


def _strip_md_roundtrip(spark, sf):
    from lexoid_spark.functions.columns import strip_markdown

    docs = _t(spark, sf, "documents")
    md = F.concat(
        F.lit("**"), F.substring("text", 1, 30),
        F.lit("** and [x](http://y.test/a) `code`"),
    )
    return docs.select(
        "doc_id", strip_markdown(md).alias("stripped")
    ).transform(_srt("doc_id"))


_STRIP_MD_SQL = """
SELECT doc_id, substr(text, 1, 30) || ' and x code' AS stripped
FROM documents ORDER BY doc_id
"""


def _clean_text_roundtrip(spark, sf):
    from lexoid_spark.functions.columns import clean_text

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("\\alpha{x} "), F.substring("text", 1, 50), F.lit(" 42!")
    )
    return docs.select("doc_id", clean_text(raw).alias("cleaned")).transform(_srt(
        "doc_id"
    ))


_CLEAN_TEXT_SQL = r"""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(regexp_replace(
       '\alpha{x} ' || substr(text, 1, 50) || ' 42!',
       '\\[a-zA-Z]+(\[[^\]]*\])?(\{[^}]*\})?', ' ', 'g'),
       '\s+', ' ', 'g'),
       '[^a-zA-Z0-9 ]', ' ', 'g')) AS cleaned
FROM documents ORDER BY doc_id
"""


def _crawl_reachable(spark, sf):
    from lexoid_spark.operators.crawl import crawl_edges

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.concat(F.lit("http://c.test/"), F.col("doc_id")).alias("url"),
        F.concat(
            F.lit("see [a](http://c.test/"), F.col("doc_id") + 3,
            F.lit(") and [b](http://c.test/"), F.col("doc_id") + 7, F.lit(")"),
        ).alias("text"),
    )
    return crawl_edges(pages, seed_urls=["http://c.test/0", "http://c.test/1"], depth=2).transform(_srt(
        "depth", "parent_url", "child_url"
    ))


_CRAWL_SQL = """
WITH e AS (
  SELECT 'http://c.test/' || doc_id AS parent_url,
         'http://c.test/' || (doc_id + 3) AS child_url, doc_id + 3 AS c
  FROM documents
  UNION ALL
  SELECT 'http://c.test/' || doc_id, 'http://c.test/' || (doc_id + 7), doc_id + 7
  FROM documents
),
e2 AS (SELECT parent_url, child_url
       FROM e JOIN documents d ON e.c = d.doc_id),
d1 AS (SELECT DISTINCT parent_url, child_url FROM e2
       WHERE parent_url IN ('http://c.test/0', 'http://c.test/1')),
f1 AS (SELECT DISTINCT child_url FROM d1
       WHERE child_url NOT IN ('http://c.test/0', 'http://c.test/1')),
d2 AS (SELECT DISTINCT e2.parent_url, e2.child_url
       FROM e2 JOIN f1 ON e2.parent_url = f1.child_url)
SELECT parent_url, child_url, 1 AS depth FROM d1
UNION ALL
SELECT parent_url, child_url, 2 AS depth FROM d2
ORDER BY depth, parent_url, child_url
"""


def _parse_quality_metrics(spark, sf):
    from lexoid_spark.functions.metrics import token_set_metrics

    docs = _tp(spark, sf, "documents")
    parsed = F.substring("text", 1, 60)
    m = token_set_metrics(parsed, F.col("text"))
    return docs.select(
        "doc_id",
        F.round(m["jaccard"], 4).alias("jaccard"),
        F.round(m["precision"], 4).alias("precision"),
        F.round(m["recall"], 4).alias("recall"),
        F.round(m["f1"], 4).alias("f1"),
    ).transform(_srt("doc_id"))


_PARSE_QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id,
    list_distinct(regexp_split_to_array(trim(substr(text, 1, 60)), '\s+')) AS sa,
    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS sb
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(list_intersect(sa, sb)) AS DOUBLE) AS i,
    CAST(len(sa) AS DOUBLE) AS na, CAST(len(sb) AS DOUBLE) AS nb,
    CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) AS u
  FROM t
)
SELECT doc_id,
  ROUND(CASE WHEN u > 0 THEN i / u ELSE 0 END, 4) AS jaccard,
  ROUND(CASE WHEN na > 0 THEN i / na ELSE 0 END, 4) AS precision,
  ROUND(CASE WHEN nb > 0 THEN i / nb ELSE 0 END, 4) AS recall,
  ROUND(CASE WHEN (CASE WHEN na > 0 THEN i / na ELSE 0 END)
                + (CASE WHEN nb > 0 THEN i / nb ELSE 0 END) > 0
        THEN 2 * (i / na) * (i / nb) / ((i / na) + (i / nb))
        ELSE 0 END, 4) AS f1
FROM m ORDER BY doc_id
"""


# ---- rows-only pipeline smoke over the synthetic pages corpus ----

def _low_yield_split(spark, sf):
    """P4 short-circuit as a query: extract SQL-constructible html,
    classify by stripped yield length against the threshold."""
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.html_md import html_to_md
    from lexoid_spark.operators.routing import low_yield_split

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.when(F.col("doc_id") % 5 == 0, F.substring("text", 1, 20))
        .otherwise(F.col("text")),
        F.lit("</p></body></html>"),
    )
    extracted = docs.select(
        "doc_id", row_udf(html_to_md, "string")(html).alias("raw")
    )
    parts = low_yield_split(extracted, character_threshold=60)
    kept = parts["kept"].select("doc_id", F.lit("kept").alias("bucket"))
    low = parts["needs_review"].select(
        "doc_id", F.lit("needs_review").alias("bucket")
    )
    return kept.unionByName(low).transform(_srt("doc_id"))


# html kernel renders <p>x</p> as "\n\nx\n\n"; trim(raw) = the text
_LOW_YIELD_SQL = """
SELECT doc_id,
       CASE WHEN length(trim(CASE WHEN doc_id % 5 = 0
                                  THEN substr(text, 1, 20)
                                  ELSE text END)) >= 60
            THEN 'kept' ELSE 'needs_review' END AS bucket
FROM documents ORDER BY doc_id
"""


def _quality_by_lang(spark, sf):
    """A6: per-config mean±stddev aggregation (benchmark harness
    analogue, tests/benchmark.py:318-373) over parse-quality metrics."""
    from lexoid_spark.functions.metrics import token_set_metrics

    docs = _t(spark, sf, "documents")
    parsed = F.substring("text", 1, 60)
    m = token_set_metrics(parsed, F.col("text"))
    per_doc = docs.select("lang", m["recall"].alias("recall"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("recall"), 4).alias("avg_recall"),
            F.round(F.stddev("recall"), 4).alias("std_recall"),
        )
        .transform(_srt("lang"))
    )


_QUALITY_BY_LANG_SQL = r"""
WITH t AS (
  SELECT lang,
    CAST(len(list_intersect(
      list_distinct(regexp_split_to_array(trim(substr(text, 1, 60)), '\s+')),
      list_distinct(regexp_split_to_array(trim(text), '\s+')))) AS DOUBLE)
    / len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS recall
  FROM documents
)
SELECT lang, COUNT(*) AS n,
       ROUND(AVG(recall), 4) AS avg_recall,
       ROUND(STDDEV_SAMP(recall), 4) AS std_recall
FROM t GROUP BY lang ORDER BY lang
"""


def _bbox_range_join(spark, sf):
    """J1 lifted to DataFrames: link-rect × word-box interval θ-join
    (reference nested loop at static_parser.py:204-217 — word x0 within
    [rect_x0 - 1, rect_x1 + 1] and inside the rect's vertical band)."""
    docs = _t(spark, sf, "documents")
    words = docs.select(
        "doc_id",
        (F.col("n_chars") % 97 / 100.0).alias("x0"),
        (F.col("n_chars") % 89 / 100.0).alias("top"),
    )
    rects = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("rect_id"),
        (F.col("doc_id") % 40 / 100.0).alias("rx0"),
        (F.col("doc_id") % 40 / 100.0 + 0.3).alias("rx1"),
        (F.col("doc_id") % 30 / 100.0).alias("rtop"),
        (F.col("doc_id") % 30 / 100.0 + 0.4).alias("rbottom"),
    )
    joined = words.join(
        F.broadcast(rects),
        (F.col("x0") >= F.col("rx0") - 0.01)
        & (F.col("x0") <= F.col("rx1") + 0.01)
        & (F.col("top") >= F.col("rtop"))
        & (F.col("top") <= F.col("rbottom")),
    )
    return (
        joined.groupBy("rect_id")
        .agg(F.count("*").alias("n_words"),
             F.round(F.avg("x0"), 4).alias("avg_x0"))
        .transform(_srt("rect_id"))
    )


_BBOX_RANGE_JOIN_SQL = """
WITH words AS (
  SELECT doc_id, (n_chars % 97) / 100.0 AS x0, (n_chars % 89) / 100.0 AS top
  FROM documents
),
rects AS (
  SELECT doc_id AS rect_id,
         (doc_id % 40) / 100.0 AS rx0,
         (doc_id % 40) / 100.0 + 0.3 AS rx1,
         (doc_id % 30) / 100.0 AS rtop,
         (doc_id % 30) / 100.0 + 0.4 AS rbottom
  FROM documents WHERE doc_id % 25 = 0
)
SELECT rect_id, COUNT(*) AS n_words, ROUND(AVG(x0), 4) AS avg_x0
FROM words JOIN rects
  ON x0 >= rx0 - 0.01 AND x0 <= rx1 + 0.01
 AND top >= rtop AND top <= rbottom
GROUP BY rect_id ORDER BY rect_id
"""


def _pdf_word_boxes(spark, sf):
    """Word-box side-channel table from the PDF layout parser, over
    PDFs whose word coordinates are closed-form in doc_id — so DuckDB
    can reconstruct every normalized box without parsing a byte of
    PDF. Exercises the real pipeline: build PDF bytes → from-scratch
    tokenizer → layout state machine → normalized bbox rows
    (mixed-corpus PDFs are pinned to goldens in tests/test_pdf_bboxes)."""
    from lexoid_spark.corpus.pdf_gen import build_pdf
    from lexoid_spark.functions.udfs import pdf_word_boxes, row_udf

    def word_grid_pdf(d: int) -> bytes:
        y = float(700 - (d % 5) * 20)
        words = [
            {"text": f"w{j}x{d % 7}", "x": 72.0 + 50.0 * j, "y": y,
             "size": 12.0, "font": "F1"}
            for j in range(d % 4 + 2)
        ]
        return build_pdf([{"words": words}])

    docs = _t(spark, sf, "documents")
    pdfs = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        row_udf(word_grid_pdf, "binary")("doc_id").alias("html"),
    )
    return (
        pdf_word_boxes(pdfs)
        .select(
            F.col("url").cast("long").alias("doc_id"), "word",
            F.round("x0", 4).alias("x0"), F.round("top", 4).alias("top"),
            F.round("x1", 4).alias("x1"),
            F.round("bottom", 4).alias("bottom"),
        )
        .transform(_srt("doc_id", "x0"))
    )


# mirrors kernels/pdf_md.py's box math: top = H - y - size*0.8,
# bottom = H - y + size*0.2, x1 = x + 0.5*size*len(word), all /612 or /792
_PDF_WORD_BOXES_SQL = """
WITH n AS (
  SELECT doc_id, doc_id % 4 + 2 AS k, 700 - (doc_id % 5) * 20 AS y
  FROM documents
),
w AS (
  SELECT doc_id, y, unnest(range(k)) AS j FROM n
)
SELECT doc_id,
       'w' || CAST(j AS VARCHAR) || 'x' || CAST(doc_id % 7 AS VARCHAR) AS word,
       ROUND((72 + 50 * j) / 612, 4) AS x0,
       ROUND((792 - y - 12 * 0.8) / 792, 4) AS top,
       ROUND((72 + 50 * j + 0.5 * 12 * 4) / 612, 4) AS x1,
       ROUND((792 - y + 12 * 0.2) / 792, 4) AS bottom
FROM w ORDER BY doc_id, x0
"""


def _pipeline_extract(spark, sf):
    """The FULL extract() plan — native doctype sniff, size
    repartition, mapInPandas dispatch kernel, segmentation, quarantine
    split — over SQL-constructible HTML pages built from the documents
    table, so DuckDB can predict the extracted markdown closed-form
    (raw bytes, char count, segment count). The mixed-corpus variant
    (every fixture class incl. PDFs) is pinned byte-identical to
    goldens in tests/test_pipeline.py."""
    from lexoid_spark.plans.extract import extract

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.concat(F.lit("http://synth.test/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><h1>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1><p>"), F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    out = extract(_materialize(pages), run_id="driver_check",
                  repartition=False)["extracted"]
    return out.select(
        "url", "raw", "parser_used", "n_chars", "n_tokens",
        F.size("segments").alias("n_segments"),
    ).transform(_srt("url"))


# n_tokens mirrors functions/textstats.py::token_count exactly:
# trim strips SPACES only (Spark F.trim semantics), so the leading
# markdown newlines yield one empty first token on both engines
_PIPELINE_EXTRACT_SQL = r"""
WITH m AS (
  SELECT 'http://synth.test/doc/' || CAST(doc_id AS VARCHAR) AS url,
         chr(10) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
         || repeat('=', 4 + length(CAST(doc_id AS VARCHAR)))
         || chr(10) || chr(10) || text || chr(10) || chr(10) AS raw
  FROM documents
)
SELECT url, raw, 'STATIC_PARSE' AS parser_used,
       length(raw) AS n_chars,
       len(regexp_split_to_array(trim(raw, ' '), '\s+')) AS n_tokens,
       1 AS n_segments
FROM m ORDER BY url
"""


def _pdf_flate_extract(spark, sf):
    """Flate-compressed compact-dialect PDFs (one multi-op BT block,
    Tm positioning, array-form TJ with exact kerning) built closed-form
    from doc_id, pushed through the FULL extract() plan — zlib decode,
    content-stream interpreter, layout machine — so DuckDB predicts the
    final markdown string without touching a byte of PDF."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    def flate_pdf(d: int) -> bytes:
        k = d % 4 + 2
        # step 48 with 4-char words (width 24) → kern −2000 exactly
        words = [
            {"text": f"f{j}x{d % 7}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words, "style": "compact"}],
                         compress=True)

    out = _fixture_extract(spark, sf, "pdf.test", flate_pdf,
                           "flate_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_FLATE_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 4 + 2 AS k, CAST(doc_id % 7 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://pdf.test/' || CAST(doc_id AS VARCHAR) AS url,
         'f0x' || m || ' f1x' || m
         || CASE WHEN k >= 3 THEN ' f2x' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' f3x' || m ELSE '' END
         || CASE WHEN k >= 5 THEN ' f4x' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _pdf_rc4_extract(spark, sf):
    """RC4-encrypted (standard security handler V1/R2, empty
    password — the silent-open default) Flate PDFs built closed-form
    from doc_id and pushed through the FULL extract() plan: per-object
    key derivation + RC4 + zlib + layout, with DuckDB predicting the
    final markdown. Reference opens these via pdfplumber's standard
    handler; kernel scope in kernels/pdf_crypt.py."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    def rc4_pdf(d: int) -> bytes:
        k = d % 3 + 2
        words = [
            {"text": f"e{j}y{d % 5}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words}], compress=True, encrypt=True)

    out = _fixture_extract(spark, sf, "rc4.test", rc4_pdf,
                           "rc4_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_RC4_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 3 + 2 AS k, CAST(doc_id % 5 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://rc4.test/' || CAST(doc_id AS VARCHAR) AS url,
         'e0y' || m || ' e1y' || m
         || CASE WHEN k >= 3 THEN ' e2y' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' e3y' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _pdf_aes_extract(spark, sf):
    """AES-encrypted (standard security handler V4/R4 /AESV2, empty
    password — the dominant wild encrypted-PDF shape) Flate PDFs built
    closed-form from doc_id and pushed through the FULL extract()
    plan: R4 50-round key derivation + block-parallel AES-CBC decrypt
    + /Length rewrite + zlib + layout, with DuckDB predicting the
    final markdown. Reference opens these via pdfplumber/pypdf's
    standard handler (static_parser.py); cipher + key schedule are the
    from-scratch FIPS-197 / ISO 32000-1 re-derivation in
    kernels/pdf_crypt.py."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    def aes_pdf(d: int) -> bytes:
        k = d % 3 + 2
        words = [
            {"text": f"a{j}q{d % 6}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words}], compress=True, encrypt="aes")

    out = _fixture_extract(spark, sf, "aes.test", aes_pdf,
                           "aes_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_AES_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 3 + 2 AS k, CAST(doc_id % 6 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://aes.test/' || CAST(doc_id AS VARCHAR) AS url,
         'a0q' || m || ' a1q' || m
         || CASE WHEN k >= 3 THEN ' a2q' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' a3q' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _pdf_aes256_extract(spark, sf):
    """AES-256 (V5/R6 /AESV3, ISO 32000-2) encrypted PDFs — the
    modern writer default — through the FULL extract() plan: the
    Algorithm-2.B iterated SHA-2/AES KDF validates the empty password,
    unwraps the 256-bit file key from /UE, verifies /Perms integrity,
    then block-parallel AES-256-CBC decrypts every stream under the
    FILE key (R6 dropped per-object keys). Fixtures share one
    /Encrypt dict (same-producer shard shape), so the memoized KDF
    runs once per worker. Reference opens these via pdfplumber/pypdf;
    cipher + KDF are the from-scratch FIPS-197 / ISO 32000-2
    re-derivation in kernels/pdf_crypt.py."""
    from lexoid_spark.corpus.pdf_gen import build_pdf
    from lexoid_spark.kernels.pdf_crypt import (
        make_entries_v5,
        preseed_entries_v5,
    )

    # derive the shared /Encrypt entries ONCE on the driver (session
    # lru) and ship them in the closure: a grown worker pool keeps
    # landing fixture tasks on cold workers that re-paid the ~2 s R6
    # password-stretch per pass. The writer is fixture plumbing; the
    # PARSE side still derives from /U //UE per worker — that is the
    # engine path this query benchmarks.
    _v5 = make_entries_v5(-44, b"lexoid-v5-fixture")

    def aes256_pdf(d: int) -> bytes:
        preseed_entries_v5(-44, b"lexoid-v5-fixture", _v5)
        k = d % 3 + 2
        words = [
            {"text": f"v{j}r{d % 6}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words}], compress=True,
                         encrypt="aes256")

    out = _fixture_extract(spark, sf, "aes256.test", aes256_pdf,
                           "aes256_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_AES256_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 3 + 2 AS k, CAST(doc_id % 6 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://aes256.test/' || CAST(doc_id AS VARCHAR) AS url,
         'v0r' || m || ' v1r' || m
         || CASE WHEN k >= 3 THEN ' v2r' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' v3r' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _bmp_tiff_meta(spark, sf):
    """BMP + TIFF header walks (the last stdlib-feasible raster
    formats): even ids carry a real BMP, odd ids a real single-IFD
    TIFF alternating little/big endian — image_meta must read the
    same dims/channels the oracle derives from n_chars arithmetic."""
    from lexoid_spark.functions.multimodal import image_meta
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.tiff_bmp import build_bmp, build_tiff

    def payload(d: int, n: int) -> bytes:
        w = n % 300 + 10
        h = (n * 3) % 200 + 5
        if d % 2 == 0:
            return build_bmp(w, h, bits=24)
        return build_tiff(w, h, samples=d % 3 + 1, big_endian=(d % 4 == 3))

    docs = _tp(spark, sf, "documents")
    imgs = docs.select(
        "doc_id",
        row_udf(payload, "binary")("doc_id", "n_chars").alias("payload"))
    return (
        image_meta(imgs, id_col="doc_id", bin_col="payload")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "channels", "error")
        .transform(_srt("doc_id"))
    )


_BMP_TIFF_SQL = """
SELECT doc_id,
       CAST(n_chars % 300 + 10 AS INT) AS width,
       CAST((n_chars * 3) % 200 + 5 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3
                 ELSE doc_id % 3 + 1 END AS INT) AS channels,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY doc_id
"""


def _canonical_urls(spark, sf):
    """rel=canonical extraction — the dedup key browsers and search
    engines honor: pages synthesize a <link rel="canonical"> for
    doc_id%3!=0 pointing at the id-div-10 group page; the canonical
    group key is COALESCE(canonical, own url), so canonical-sharing
    pages dedup together while canonical-less pages stand alone.
    Native regexp chain, zero shuffle before the group count."""
    docs = _t(spark, sf, "documents")
    own = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    canon = F.concat(F.lit("https://hub.example.com/page/"),
                     F.expr("doc_id div 30").cast("string"))
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 3 != 0,
               F.concat(F.lit('<link rel="canonical" href="'), canon,
                        F.lit('"/>'))).otherwise(F.lit("")),
        F.lit("<title>t</title></head><body>"), F.col("text"),
        F.lit("</body></html>"),
    )
    pages = docs.select(own.alias("url"), html.alias("html"))
    extracted = pages.select(
        "url",
        F.nullif(
            F.regexp_extract(
                "html",
                r'<link\s+rel="canonical"\s+href="([^"]+)"', 1),
            F.lit(""),
        ).alias("canonical"),
    )
    return (
        extracted
        .withColumn("group_key", F.coalesce("canonical", F.col("url")))
        .groupBy("group_key")
        .agg(F.count("*").alias("n_pages"),
             F.min("url").alias("first_url"))
        .transform(_srt("group_key"))
    )


_CANONICAL_SQL = """
WITH e AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         CASE WHEN doc_id % 3 != 0
              THEN 'https://hub.example.com/page/' || (doc_id // 30)
         END AS canonical
  FROM documents
)
SELECT COALESCE(canonical, url) AS group_key,
       count(*) AS n_pages, min(url) AS first_url
FROM e GROUP BY 1 ORDER BY group_key
"""


def _pdf_filters_extract(spark, sf):
    """The non-Flate stream-filter dialects older wild PDFs carry —
    LZWDecode (MSB/EarlyChange/clear-on-full), ASCIIHexDecode,
    RunLengthDecode, and the [ASCII85 → Flate] chain — one per doc by
    doc_id%4, through the FULL extract plan. Oracle predicts the
    markdown closed-form; the filter choice must not change it."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    kinds = ["lzw", "ahx", "rl", "a85flate"]

    def filt_pdf(d: int) -> bytes:
        k = d % 3 + 2
        words = [
            {"text": f"g{j}z{d % 6}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words}], stream_filter=kinds[d % 4])

    out = _fixture_extract(spark, sf, "filt.test", filt_pdf,
                           "filters_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_FILTERS_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 3 + 2 AS k, CAST(doc_id % 6 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://filt.test/' || CAST(doc_id AS VARCHAR) AS url,
         'g0z' || m || ' g1z' || m
         || CASE WHEN k >= 3 THEN ' g2z' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' g3z' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


_CID_ALPHABET = "数据表查询流分组合并批处理文档页面索引"


def _cid_shape_extract(spark, sf, host: str, marker: str,
                       tounicode: bool, fontfile: str = "ttf",
                       encoding: str = "Identity-H"):
    """Shared CID-PDF query shape: closed-form CJK words through the
    full extract() plan; ``tounicode``/``encoding`` pick the decode
    route the kernel must take (/ToUnicode CMap vs embedded FontFile2
    cmap vs a predefined UCS2 CMap)."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    A = _CID_ALPHABET

    def cid_pdf(d: int) -> bytes:
        k = d % 3 + 2
        words = [
            {"text": A[(d + 5 * j) % 18] + A[(d + 5 * j + 7) % 18],
             "x": 72.0 + 100.0 * j, "y": 700.0, "size": 12.0,
             "font": "C1"}
            for j in range(k)
        ]
        words.append({"text": f"{marker}{d}", "x": 72.0, "y": 660.0,
                      "size": 12.0, "font": "F1"})
        words.append({"text": "doc", "x": 120.0, "y": 660.0,
                      "size": 12.0, "font": "F1"})
        return build_pdf([{"words": words}], compress=True,
                         cid_tounicode=tounicode, cid_fontfile=fontfile,
                         cid_encoding=encoding)

    out = _fixture_extract(spark, sf, f"{host}.test", cid_pdf,
                           f"{host}_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


def _pdf_cid_extract(spark, sf):
    """CID/Type0 (Identity-H) PDFs built closed-form from doc_id —
    2-byte hex CID strings decoded through a generated /ToUnicode CMap
    (kernels/pdf_md._parse_tounicode) inside the FULL extract() plan,
    so DuckDB predicts the final CJK markdown without touching a byte
    of PDF. Reference reads such fonts via pdfplumber's CMap support
    (static_parser.py:700-727)."""
    return _cid_shape_extract(spark, sf, host="cid", marker="cid",
                              tounicode=True)


def _pdf_ttf_extract(spark, sf):
    """Identity-H PDFs with NO /ToUnicode — text is only recoverable
    from the embedded TrueType program's own ``cmap`` table
    (/FontDescriptor → /FontFile2, parsed by kernels/ttf_cmap.py;
    CID == GID under Identity-H so the inverted table decodes). Same
    closed-form CJK text as pdf_cid_extract, so a hash match proves
    the sfnt walk + format-4 segment decode are exact. Reference gets
    embedded-font text via pdfplumber (static_parser.py:700-727)."""
    return _cid_shape_extract(spark, sf, host="ttf", marker="ttf",
                              tounicode=False)


def _pdf_cff_extract(spark, sf):
    """Identity-H PDFs with NO /ToUnicode and a CFF/Type1C program
    (/FontDescriptor -> /FontFile3) -- text is only recoverable from
    the CFF charset's glyph names (uniXXXX custom strings here),
    parsed by kernels/cff_cmap.py. Same closed-form CJK text as
    pdf_cid_extract, so a hash match proves the INDEX walk + charset
    decode + AGL name resolution are exact. Reference reads embedded
    fonts via pdfplumber (static_parser.py:700-727)."""
    return _cid_shape_extract(spark, sf, host="cff", marker="cff",
                              tounicode=False, fontfile="cff")


def _pdf_cffcid_extract(spark, sf):
    """Identity-H PDFs with NO /ToUnicode and a CID-KEYED CFF program
    (/ROS Adobe-UCS2, /Subtype /CIDFontType0) — text is only
    recoverable by walking the CFF charset's gid→CID table and
    applying the UCS2-collection convention (CID == code point;
    kernels/cff_cmap._cid_keyed_map). Same closed-form CJK text as
    pdf_cid_extract, so a hash match proves the ROS parse + charset
    walk are exact. VERDICT r04 task 7. Reference reads embedded
    fonts via pdfplumber (static_parser.py:700-727)."""
    return _cid_shape_extract(spark, sf, host="cffcid", marker="cffcid",
                              tounicode=False, fontfile="cff-cid")


def _pdf_ucs2_extract(spark, sf):
    """Type0 PDFs carrying a predefined UCS2 CMap (/Encoding
    /UniGB-UCS2-H) with NO /ToUnicode and NO font program — text is
    only recoverable from the predefined encoding itself (the 2-byte
    code IS the UCS-2 code point; kernels/pdf_md._parse_font_obj).
    Same closed-form CJK text as pdf_cid_extract, so a hash match
    proves the encoding dispatch is exact; unsupported predefined
    CMaps quarantine instead (VERDICT r04 task 5 — no silent garble
    path). Reference reads predefined CMaps via pdfplumber
    (static_parser.py:700-727)."""
    return _cid_shape_extract(spark, sf, host="ucs2", marker="ucs2",
                              tounicode=False, encoding="UniGB-UCS2-H")


_PDF_CID_SQL = """
WITH a AS (
  SELECT ['数','据','表','查','询','流','分','组','合','并','批','处',
          '理','文','档','页','面','索'] AS A
),
base AS (
  SELECT doc_id AS d, doc_id % 3 + 2 AS k, A FROM documents, a
),
r AS (
  SELECT 'http://cid.test/' || CAST(d AS VARCHAR) AS url,
         A[1 + (d % 18)] || A[1 + ((d + 7) % 18)]
         || ' ' || A[1 + ((d + 5) % 18)] || A[1 + ((d + 12) % 18)]
         || CASE WHEN k >= 3 THEN ' ' || A[1 + ((d + 10) % 18)]
                 || A[1 + ((d + 17) % 18)] ELSE '' END
         || CASE WHEN k >= 4 THEN ' ' || A[1 + ((d + 15) % 18)]
                 || A[1 + ((d + 22) % 18)] ELSE '' END
         || chr(10) || chr(10)
         || ' cid' || CAST(d AS VARCHAR) || ' doc'
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""

_PDF_UCS2_SQL = """
WITH a AS (
  SELECT ['数','据','表','查','询','流','分','组','合','并','批','处',
          '理','文','档','页','面','索'] AS A
),
base AS (
  SELECT doc_id AS d, doc_id % 3 + 2 AS k, A FROM documents, a
),
r AS (
  SELECT 'http://ucs2.test/' || CAST(d AS VARCHAR) AS url,
         A[1 + (d % 18)] || A[1 + ((d + 7) % 18)]
         || ' ' || A[1 + ((d + 5) % 18)] || A[1 + ((d + 12) % 18)]
         || CASE WHEN k >= 3 THEN ' ' || A[1 + ((d + 10) % 18)]
                 || A[1 + ((d + 17) % 18)] ELSE '' END
         || CASE WHEN k >= 4 THEN ' ' || A[1 + ((d + 15) % 18)]
                 || A[1 + ((d + 22) % 18)] ELSE '' END
         || chr(10) || chr(10)
         || ' ucs2' || CAST(d AS VARCHAR) || ' doc'
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""

# Same closed-form text, different decode route (FontFile2 cmap, not
# /ToUnicode) — "cid" appears only in the URL host and marker word.
_PDF_TTF_SQL = _PDF_CID_SQL.replace("cid", "ttf")

# Same closed-form text, CID-keyed CFF decode route (ROS charset walk)
_PDF_CFFCID_SQL = _PDF_CID_SQL.replace("cid", "cffcid")

# Same text again via the CFF/Type1C charset route (/FontFile3).
_PDF_CFF_SQL = _PDF_CID_SQL.replace("cid", "cff")


def _ocr_scanned(spark, sf):
    """OCR arm (P5): standalone image documents (FAKE container) built
    closed-form from doc_id, routed image→OCR by the full extract()
    plan; the deterministic stand-in recognizer makes the page text a
    pure function of the header, so DuckDB predicts it exactly.
    Reference shape: bbox_router (utils.py:591-612) +
    parse_with_paddleocr (static_parser.py:751-818)."""
    from lexoid_spark.functions.multimodal import encode_fake_image

    def fake_scan(d: int) -> bytes:
        return encode_fake_image(320 + d % 16, 240 + d % 8, d % 3 + 1)

    out = _fixture_extract(spark, sf, "img.test", fake_scan,
                           "ocr_check")["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_OCR_SCANNED_SQL = """
SELECT 'http://img.test/' || CAST(doc_id AS VARCHAR) AS url,
       'scan' || CAST(320 + doc_id % 16 AS VARCHAR)
       || 'x' || CAST(240 + doc_id % 8 AS VARCHAR)
       || ' ch' || CAST(doc_id % 3 + 1 AS VARCHAR) || ' ocr' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents ORDER BY url
"""


def _ocr_glyph_scan(spark, sf):
    """REAL-pixel OCR end to end (P5, the fixed round-3 seam): glyph
    text rendered per doc_id through one of the three from-scratch
    codecs (PNG / GIF / baseline JPEG, rotating on doc_id % 3), routed
    image→OCR by the full extract() plan; kernels/ocr_glyph.py decodes
    actual pixels and template-recognizes the exact text, so DuckDB
    predicts the page text closed-form. Reference:
    parse_with_paddleocr (static_parser.py:751-818)."""
    import numpy as np

    def glyph_scan(d: int) -> bytes:
        from lexoid_spark.kernels.gif_codec import gif_encode
        from lexoid_spark.kernels.jpeg_codec import jpeg_encode
        from lexoid_spark.kernels.ocr_glyph import render_text
        from lexoid_spark.kernels.png_codec import png_encode

        v = d % 3
        arr = render_text(f"DOC {d}\nLINE {d % 7}",
                          scale=4 if v == 2 else 2)
        if v == 0:
            return png_encode(arr[:, :, None])
        if v == 1:
            return gif_encode(np.repeat(arr[:, :, None], 3, axis=2))
        return jpeg_encode(arr[:, :, None], quality=95)

    # 1-in-5 deterministic subset: render→encode→decode→recognize is
    # ~20 ms/doc of honest pixel work; ocr_scanned keeps full-corpus
    # OCR-arm coverage, this query proves the REAL-pixel recognizer
    out = _fixture_extract(spark, sf, "glyph.test", glyph_scan,
                           "ocr_glyph",
                           where=F.col("doc_id") % 5 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_OCR_GLYPH_SCAN_SQL = """
SELECT 'http://glyph.test/' || CAST(doc_id AS VARCHAR) AS url,
       'DOC ' || CAST(doc_id AS VARCHAR)
       || ' LINE ' || CAST(doc_id % 7 AS VARCHAR) AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 5 = 0 ORDER BY url
"""


def _ocr_mixed_case(spark, sf):
    """Mixed-case + punctuation OCR end to end (P5, the round-4
    "closed uppercase-only glyph set" seam, closed this round): text
    with lowercase, capitals, digits and punctuation rendered per
    doc_id (PNG for even ids, lossy quality-95 JPEG for odd), routed
    image→OCR by the full extract() plan; kernels/ocr_glyph.py
    nearest-template-recognizes the exact string, so DuckDB predicts
    the page text closed-form. Reference: parse_with_paddleocr
    (static_parser.py:751-818)."""

    def mixed_scan(d: int) -> bytes:
        from lexoid_spark.kernels.jpeg_codec import jpeg_encode
        from lexoid_spark.kernels.ocr_glyph import render_text
        from lexoid_spark.kernels.png_codec import png_encode

        arr = render_text(
            f"Doc {d} says 'Hello, world!'\npage {d % 9} of "
            f"{d % 7 + 1} (ok).", scale=2)
        if d % 2 == 0:
            return png_encode(arr[:, :, None])
        return jpeg_encode(arr[:, :, None], quality=95)

    # 1-in-5 deterministic subset, offset from ocr_glyph_scan's
    out = _fixture_extract(spark, sf, "mixed.test", mixed_scan,
                           "ocr_mixed",
                           where=F.col("doc_id") % 5 == 1)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_OCR_MIXED_CASE_SQL = """
SELECT 'http://mixed.test/' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' says ''Hello, world!'' '
       || 'page ' || CAST(doc_id % 9 AS VARCHAR)
       || ' of ' || CAST(doc_id % 7 + 1 AS VARCHAR) || ' (ok).' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 5 = 1 ORDER BY url
"""


def _pdf_g3_scan(spark, sf):
    """CCITT Group 3 fax scans (ITU-T T.4) through the FULL extract()
    plan, rotating the two /K regimes on doc_id: pure 1-D MH (/K 0,
    the PDF default) and mixed 2-D MR (/K 4, EOL+tag framed) — the
    legacy-fax counterparts of the pdf_ocr_extract G4 arm. Route:
    sniff → has_image flag → OCR arm → T.4 run-length decode → glyph
    recognition. Reference reads such PDFs via pdfplumber/pypdfium
    (static_parser.py:700-727); the codec itself has no reference
    code. Recognition is a pure function of doc_id, so DuckDB
    predicts the page text closed-form."""

    def g3_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf
        from lexoid_spark.kernels.ocr_glyph import render_text

        arr = render_text(f"G3 FAX {d}\nrow {d % 6} ok", scale=2)
        codec = "g3" if d % 2 == 0 else "g3-2d"
        return build_pdf(
            [{"raster_images": [{"gray": arr, "codec": codec}]}])

    # 1-in-9 deterministic subset: build→scan→T.4-decode→recognize is
    # honest per-doc pixel work; pdf_ocr_extract keeps the G4 arm
    out = _fixture_extract(spark, sf, "g3pdf.test", g3_pdf, "g3_pdf",
                           where=F.col("doc_id") % 9 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_PDF_G3_SCAN_SQL = """
SELECT 'http://g3pdf.test/' || CAST(doc_id AS VARCHAR) AS url,
       'G3 FAX ' || CAST(doc_id AS VARCHAR)
       || ' row ' || CAST(doc_id % 6 AS VARCHAR) || ' ok' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 9 = 0 ORDER BY url
"""


def _pdf_jbig2_scan(spark, sf):
    """JBIG2 (ITU-T T.88) scans through the FULL extract() plan,
    rotating the three coding modes on doc_id: MMR generic regions
    (T.6 data inside JBIG2 segments), MQ-arithmetic GBTEMPLATE-0
    regions, and SYMBOL mode (dictionary + text region — the
    jbig2enc layout, exercising the Annex-A integer arithmetic
    procedures) — the archival-scanner layouts next to CCITT G4.
    Route:
    sniff → has_image flag → OCR arm → kernels/jbig2.py segment parse
    + region decode → glyph recognition. Reference reads such PDFs
    via pdfplumber/pypdfium (static_parser.py:700-727); the codec has
    no reference code. Recognition is a pure function of doc_id, so
    DuckDB predicts the page text closed-form."""

    def jbig2_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf
        from lexoid_spark.kernels.ocr_glyph import render_text

        arr = render_text(f"JBIG2 SCAN {d}\nrow {d % 6} ok", scale=2)
        codec = ("jbig2", "jbig2-arith", "jbig2-sym")[d % 3]
        return build_pdf(
            [{"raster_images": [{"gray": arr, "codec": codec}]}])

    # 1-in-17 deterministic subset: build→scan→segment-parse→MQ/MMR
    # decode→recognize is honest per-doc pixel work
    out = _fixture_extract(spark, sf, "jbig2pdf.test", jbig2_pdf, "jbig2_pdf",
                           where=F.col("doc_id") % 17 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_PDF_JBIG2_SCAN_SQL = """
SELECT 'http://jbig2pdf.test/' || CAST(doc_id AS VARCHAR) AS url,
       'JBIG2 SCAN ' || CAST(doc_id AS VARCHAR)
       || ' row ' || CAST(doc_id % 6 AS VARCHAR) || ' ok' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 17 = 0 ORDER BY url
"""


def _pdf_jpx_scan(spark, sf):
    """JPEG 2000 (ITU-T T.800) scans through the FULL extract() plan,
    rotating the two container shapes on doc_id: raw codestreams and
    JP2 boxes under /JPXDecode. Route: sniff → has_image flag → OCR
    arm → kernels/jpx.py (5/3 reversible DWT + EBCOT Tier-1 through
    the shared MQ coder + tag-tree packet headers) → glyph
    recognition. Reference reads such PDFs via pdfplumber/pypdfium
    (static_parser.py:700-727); the codec has no reference code.
    Recognition is a pure function of doc_id, so DuckDB predicts the
    page text closed-form."""

    def jpx_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf
        from lexoid_spark.kernels.ocr_glyph import render_text

        arr = render_text(f"JPX SCAN {d}\nrow {d % 6} ok", scale=2)
        codec = "jpx" if d % 2 == 0 else "jpx-jp2"
        return build_pdf(
            [{"raster_images": [{"gray": arr, "codec": codec}]}])

    # 1-in-19 deterministic subset: build→scan→DWT+EBCOT→recognize is
    # honest per-doc pixel work
    out = _fixture_extract(spark, sf, "jpxpdf.test", jpx_pdf, "jpx_pdf",
                           where=F.col("doc_id") % 19 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_PDF_JPX_SCAN_SQL = """
SELECT 'http://jpxpdf.test/' || CAST(doc_id AS VARCHAR) AS url,
       'JPX SCAN ' || CAST(doc_id AS VARCHAR)
       || ' row ' || CAST(doc_id % 6 AS VARCHAR) || ' ok' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 19 = 0 ORDER BY url
"""


def _tiff_ocr_scan(spark, sf):
    """Standalone TIFF and BMP documents through the FULL extract()
    plan, rotating all NINE decode arms on doc_id: TIFF uncompressed /
    PackBits / LZW / LZW+Predictor-2 / CCITT MH / G3 1-D / G3 2-D /
    G4 (kernels/tiff_codec.py reusing the repo's own T.4/T.6 + LZW
    decoders) and 8-bit paletted BMP. Route: sniff (TIFF magics; BMP
    'BM' + DIB-size check) → OCR arm → pixel decode → glyph
    recognition. Scanned-document archives ship exactly these fax
    TIFF layouts; the reference reads them via PIL inside PaddleOCR
    (static_parser.py:751-798). Recognition is a pure function of
    doc_id, so DuckDB predicts the page text closed-form."""
    comps = ["none", "packbits", "lzw", "lzw-pred",
             "mh", "g3", "g3-2d", "g4"]

    def tiff_scan(d: int) -> bytes:
        from lexoid_spark.kernels.ocr_glyph import render_text
        from lexoid_spark.kernels.tiff_codec import (
            bmp_encode_gray,
            tiff_encode_gray,
        )

        arr = render_text(f"TIFF SCAN {d}\nrow {d % 6} ok", scale=2)
        v = d % 9
        if v == 8:
            return bmp_encode_gray(arr)
        return tiff_encode_gray(arr, comps[v], rows_per_strip=32)

    # 1-in-7 deterministic subset: render→encode→decode→recognize is
    # honest per-doc pixel work across nine codec arms
    out = _fixture_extract(spark, sf, "tiff.test", tiff_scan, "tiff_ocr",
                           where=F.col("doc_id") % 7 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_TIFF_OCR_SCAN_SQL = """
SELECT 'http://tiff.test/' || CAST(doc_id AS VARCHAR) AS url,
       'TIFF SCAN ' || CAST(doc_id AS VARCHAR)
       || ' row ' || CAST(doc_id % 6 AS VARCHAR) || ' ok' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 7 = 0 ORDER BY url
"""


def _pdf_inline_image(spark, sf):
    """BI/ID/EI inline images through the FULL extract() plan,
    rotating five wild layouts on doc_id: Flate samples with /L,
    PNG-predicted Flate (/DP /Predictor 15), CCITT G4 fax (/CCF),
    unfiltered samples WITHOUT /L (the EI-scan fallback), and a
    verbatim JPEG under /DCT. The reference's has-image byte scan
    (utils.py:467-481) cannot see inline images, so the text
    interpreter detects the BI operator mid-stream and reroutes the
    document to the OCR arm (kernels/pdf_md.py PdfInlineImageError) —
    a deliberate capability add over the reference. Recognition is a
    pure function of doc_id, so DuckDB predicts the page text
    closed-form."""

    def inline_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf
        from lexoid_spark.kernels.jpeg_codec import jpeg_encode
        from lexoid_spark.kernels.ocr_glyph import render_text

        v = d % 5
        arr = render_text(f"INLINE {d}\nline {d % 6} ok.", scale=2)
        if v == 0:
            raster = {"gray": arr}
        elif v == 1:
            raster = {"gray": arr, "predictor": 15}
        elif v == 2:
            raster = {"gray": arr, "codec": "g4"}
        elif v == 3:
            raster = {"gray": arr, "raw": True}
        else:
            raster = jpeg_encode(arr[:, :, None], quality=95)
        return build_pdf([{"inline_images": [raster]}])

    # 1-in-13 deterministic subset: build→scan→decode→recognize is
    # honest per-doc pixel work; pdf_ocr_extract keeps the XObject arm
    out = _fixture_extract(spark, sf, "inlinepdf.test", inline_pdf,
                           "inline_pdf",
                           where=F.col("doc_id") % 13 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_PDF_INLINE_IMAGE_SQL = """
SELECT 'http://inlinepdf.test/' || CAST(doc_id AS VARCHAR) AS url,
       'INLINE ' || CAST(doc_id AS VARCHAR)
       || ' line ' || CAST(doc_id % 6 AS VARCHAR) || ' ok.' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 13 = 0 ORDER BY url
"""


def _pdf_type3_extract(spark, sf):
    """Type3 glyph-procedure fonts through the FULL extract() plan:
    the fixture assigns DELIBERATELY remapped byte codes (code 0x41+j
    for lowercase/digit glyphs — reading the raw bytes garbles), so a
    hash match proves the /Encoding /Differences walk + AGL
    glyph-name resolution (kernels/pdf_md._parse_differences,
    kernels/cff_cmap.glyph_name_to_char) and the /FontMatrix-scaled
    /Widths are exact. Closed-form text from doc_id — DuckDB predicts
    the markdown without touching a byte of PDF. Reference reads
    Type3 fonts via pdfplumber (static_parser.py:700-727)."""

    def t3_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf

        k = d % 3 + 2
        words = [
            {"text": f"t3w{j}q{d % 5}", "x": 72.0 + 100.0 * j,
             "y": 700.0, "size": 12.0, "font": "T1"}
            for j in range(k)
        ]
        words.append({"text": f"t3x{d}", "x": 72.0, "y": 660.0,
                      "size": 12.0, "font": "F1"})
        words.append({"text": "doc", "x": 120.0, "y": 660.0,
                      "size": 12.0, "font": "F1"})
        return build_pdf([{"words": words}], compress=True)

    out = _fixture_extract(spark, sf, "type3.test", t3_pdf,
                           "type3_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_TYPE3_SQL = """
WITH base AS (
  SELECT doc_id AS d, doc_id % 3 + 2 AS k,
         CAST(doc_id % 5 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://type3.test/' || CAST(d AS VARCHAR) AS url,
         't3w0q' || m || ' t3w1q' || m
         || CASE WHEN k >= 3 THEN ' t3w2q' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' t3w3q' || m ELSE '' END
         || chr(10) || chr(10)
         || ' t3x' || CAST(d AS VARCHAR) || ' doc'
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _ocr_noise_quarantine(spark, sf):
    """The never-silently-wrong gate as a query: renders with
    above-threshold noise (four whole glyph cells of the leading
    letter flipped for doc_id % 3 == 0) must land in the ERRORS
    table, clean renders in extracted — deterministic per doc_id, so
    DuckDB predicts each document's fate closed-form. Pins the
    confidence gate of the nearest-template recognizer
    (kernels/ocr_glyph.py MAX_DIST/MARGIN) end to end through
    extract()'s quarantine split."""
    import numpy as np

    def noisy_scan(d: int) -> bytes:
        from lexoid_spark.kernels.ocr_glyph import render_text
        from lexoid_spark.kernels.png_codec import png_encode

        arr = render_text(f"NOISE {d}", scale=2).copy()
        if d % 3 == 0:
            # margin=4px; flip 4 whole cells of the leading N
            for r, c in [(1, 0), (1, 3), (3, 0), (5, 3)]:
                blk = arr[4 + r * 2:4 + (r + 1) * 2,
                          4 + c * 2:4 + (c + 1) * 2]
                arr[4 + r * 2:4 + (r + 1) * 2,
                    4 + c * 2:4 + (c + 1) * 2] = np.where(
                        blk < 128, 255, 0)
        return png_encode(arr[:, :, None])

    out = _fixture_extract(spark, sf, "noise.test", noisy_scan, "ocr_noise",
                           where=F.col("doc_id") % 11 == 0)
    ok = out["extracted"].select(
        "url", F.lit("extracted").alias("status"))
    bad = out["errors"].select(
        "url", F.lit("quarantined").alias("status"))
    return ok.unionByName(bad).transform(_srt("url"))


_OCR_NOISE_QUARANTINE_SQL = """
SELECT 'http://noise.test/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN 'quarantined'
            ELSE 'extracted' END AS status
FROM documents WHERE doc_id % 11 = 0 ORDER BY url
"""


def _pdf_ocr_extract(spark, sf):
    """Scanner-output PDFs through the FULL extract() plan, rotating
    the four wild raster layouts on doc_id: a real JPEG embedded
    verbatim under /Filter /DCTDecode (lossy scans), raw /DeviceGray
    Flate samples (lossless), PNG-predicted Flate samples
    (/DecodeParms /Predictor 15), and CCITT Group 4 fax
    (/CCITTFaxDecode /K -1, ITU-T T.6). Route: sniff → has_image flag
    → OCR arm → object scan → entropy/predictor decode → glyph
    recognition. Reference: image-bearing PDF → paddleocr
    (utils.py:591-612 bbox_router, static_parser.py:751-818).
    Recognition is a pure function of doc_id, so DuckDB predicts the
    page text closed-form."""

    def scan_pdf(d: int) -> bytes:
        from lexoid_spark.corpus.pdf_gen import build_pdf
        from lexoid_spark.kernels.jpeg_codec import jpeg_encode
        from lexoid_spark.kernels.ocr_glyph import render_text

        v = d % 4
        arr = render_text(f"JPEG SCAN {d}\nBAND {d % 5} OK",
                          scale=4 if v == 0 else 2)
        if v == 0:
            raster = jpeg_encode(arr[:, :, None], quality=95)
        elif v == 3:
            raster = {"gray": arr, "codec": "g4"}
        else:
            raster = {"gray": arr, "predictor": 15 if v == 2 else 1}
        return build_pdf([{"raster_images": [raster]}])

    # 1-in-7 deterministic subset: build→scan→entropy-decode→recognize
    # is honest per-doc pixel work; pdf_speed_arm / ocr_scanned keep
    # full-corpus coverage of the routing itself
    out = _fixture_extract(spark, sf, "scanpdf.test", scan_pdf, "pdf_ocr",
                           where=F.col("doc_id") % 7 == 0)["extracted"]
    return out.select("url", "raw", "parser_used").transform(_srt("url"))


_PDF_OCR_EXTRACT_SQL = """
SELECT 'http://scanpdf.test/' || CAST(doc_id AS VARCHAR) AS url,
       'JPEG SCAN ' || CAST(doc_id AS VARCHAR)
       || ' BAND ' || CAST(doc_id % 5 AS VARCHAR) || ' OK' AS raw,
       'OCR_PARSE' AS parser_used
FROM documents WHERE doc_id % 7 = 0 ORDER BY url
"""


def _pdf_speed_arm(spark, sf):
    """The cheap text-only PDF arm (reference pdfminer framework,
    static_parser.py:144-177): same compressed PDFs as
    pdf_flate_extract plus a second line, extracted with
    pdf_framework='pdfminer' — no markdown, words joined by spaces,
    lines by newlines."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    def speed_pdf(d: int) -> bytes:
        k = d % 4 + 2
        words = [
            {"text": f"f{j}x{d % 7}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        words.append({"text": f"endx{d % 7}", "x": 72.0, "y": 680.0,
                      "size": 12.0, "font": "F1"})
        return build_pdf([{"words": words, "style": "compact"}],
                         compress=True)

    out = _fixture_extract(spark, sf, "spdf.test", speed_pdf, "speed_check",
                           pdf_framework="pdfminer")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_SPEED_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 4 + 2 AS k, CAST(doc_id % 7 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://spdf.test/' || CAST(doc_id AS VARCHAR) AS url,
         'f0x' || m || ' f1x' || m
         || CASE WHEN k >= 3 THEN ' f2x' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' f3x' || m ELSE '' END
         || CASE WHEN k >= 5 THEN ' f4x' || m ELSE '' END
         || chr(10) || 'endx' || m AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


# ---------------------------------------------------------------------------
# corpus-curation family (functions/curation.py): PII redaction,
# paragraph-level exact dedup, Gopher repetition signals, URL
# canonicalization, stratified sampling, context-window packing
# ---------------------------------------------------------------------------


def _pii_redact_docs(spark, sf):
    """PII scrub: emails / IPv4 / phone-shaped numbers → typed
    placeholders. PII strings are injected deterministically from
    doc_id (the synthetic corpus contains none) so the redaction
    actually fires; the oracle mirrors injection + the regexes with
    the 'g' flag."""
    from lexoid_spark.functions.curation import pii_redact

    docs = _tp(spark, sf, "documents")
    blob = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1415"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   7, "0"),
            F.lit(" ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 ph 415-555-01"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
                   2, "0"),
        ).alias("blob"),
    )
    return blob.select(
        "doc_id", pii_redact("blob").alias("redacted")
    ).transform(_srt("doc_id"))


_PII_REDACT_SQL = r"""
WITH blob AS (
  SELECT doc_id,
         substr(text, 1, 80) || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1415'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0')
         || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         || '.7 ph 415-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
           AS blob
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(blob,
             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\+\d{7,15}\b|\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g')
         AS redacted
FROM blob ORDER BY doc_id
"""


def _para_dedup(spark, sf):
    """RefinedWeb-style cross-document paragraph dedup: a shared header
    and per-lang footer are injected so every document carries
    corpus-duplicated paragraphs; each survives only in its min
    (doc_id, pos) occurrence. Keeper selection is groupBy(hash) +
    min(struct) — map-side combinable, no hot window partitions."""
    from lexoid_spark.functions.curation import paragraph_dedup

    docs = _t(spark, sf, "documents")
    body = docs.select(
        "doc_id",
        F.concat(
            F.lit("Shared boilerplate header."), F.lit("\n\n"),
            F.col("text"), F.lit("\n\n"),
            F.lit("Footer for "), F.col("lang"),
        ).alias("body"),
    )
    out = paragraph_dedup(body, "doc_id", "body")
    return out.select(
        F.col("id").alias("doc_id"), "n_paras", "n_kept", "text_dedup"
    ).transform(_srt("doc_id"))


_PARA_DEDUP_SQL = r"""
WITH body AS (
  SELECT doc_id,
         'Shared boilerplate header.' || chr(10) || chr(10) || text
         || chr(10) || chr(10) || 'Footer for ' || lang AS body
  FROM documents
),
p0 AS (
  SELECT doc_id,
         unnest(string_split(body, chr(10) || chr(10))) AS para,
         unnest(range(0, len(string_split(body, chr(10) || chr(10)))))
           AS pos
  FROM body
),
p AS (SELECT * FROM p0 WHERE length(trim(para)) > 0),
k AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rn
  FROM p
),
tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM p GROUP BY doc_id),
kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_dedup
  FROM k WHERE rn = 1 GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.n_paras AS BIGINT) AS n_paras,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(text_dedup, '') AS text_dedup
FROM tot t LEFT JOIN kept USING (doc_id) ORDER BY doc_id
"""


def _doc_repetition(spark, sf):
    """Gopher repetition signals (dup-line fraction / dup-line char
    fraction / top-2-gram char coverage) over a deterministically
    multi-line body (corpus text is single-line; two injected lines
    repeat). Line metrics are shuffle-free sorted-neighbor array
    compares; only the 2-gram mode explodes."""
    from lexoid_spark.functions.curation import repetition_table

    docs = _tp(spark, sf, "documents")
    body = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 60), F.substring("text", 31, 60),
            F.substring("text", 31, 60),
            F.concat(F.lit("tail "), F.col("lang")),
        ).alias("body"),
    )
    return (
        repetition_table(body, "doc_id", "body")
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id"))
    )


_DOC_REPETITION_SQL = r"""
WITH body AS (
  SELECT doc_id,
         substr(text, 1, 60) || chr(10) || substr(text, 31, 60) || chr(10)
         || substr(text, 31, 60) || chr(10) || 'tail ' || lang AS body
  FROM documents
),
l AS (
  SELECT doc_id,
         unnest(list_filter(string_split(body, chr(10)),
                            x -> length(x) > 0)) AS ln
  FROM body
),
lc AS (SELECT doc_id, ln, COUNT(*) AS c FROM l GROUP BY doc_id, ln),
lm AS (
  SELECT doc_id, SUM(c) AS n_lines,
         COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS dup_cnt,
         COALESCE(SUM(c * length(ln)) FILTER (WHERE c >= 2), 0)
           AS dup_chars,
         SUM(c * length(ln)) AS tot_chars
  FROM lc GROUP BY doc_id
),
m AS (SELECT doc_id, regexp_split_to_array(trim(body), '\s+') AS toks
      FROM body),
tk AS (SELECT doc_id,
              list_sum(list_transform(toks, t -> length(t))) AS tok_chars
       FROM m),
t AS (SELECT doc_id, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS pos
      FROM m),
g0 AS (SELECT doc_id, pos,
              tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS gram
       FROM t),
g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL),
gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
top AS (
  SELECT doc_id, gram, c FROM (
    SELECT doc_id, gram, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, gram DESC) AS rn
    FROM gc
  ) WHERE rn = 1
)
SELECT b.doc_id,
       CAST(COALESCE(lm.n_lines, 0) AS INT) AS n_lines,
       CASE WHEN COALESCE(lm.n_lines, 0) > 0
            THEN lm.dup_cnt::DOUBLE / lm.n_lines ELSE 0.0 END
         AS dup_line_frac,
       CASE WHEN COALESCE(lm.tot_chars, 0) > 0
            THEN lm.dup_chars::DOUBLE / lm.tot_chars ELSE 0.0 END
         AS dup_line_char_frac,
       COALESCE(top.gram, '') AS top_2gram,
       CASE WHEN COALESCE(tk.tok_chars, 0) > 0 AND top.c IS NOT NULL
            THEN (top.c * length(replace(top.gram, ' ', '')))::DOUBLE
                 / tk.tok_chars
            ELSE 0.0 END AS top_2gram_frac
FROM body b
LEFT JOIN lm USING (doc_id)
LEFT JOIN tk USING (doc_id)
LEFT JOIN top USING (doc_id)
ORDER BY b.doc_id
"""


def _url_normalize(spark, sf):
    """URL canonicalization for dedup: lowercase scheme+host, strip
    fragment + tracking params, clean dangling separators and one
    trailing slash. Zero-shuffle regexp chain; URLs are synthesized
    from doc_id across three dirty shapes."""
    from lexoid_spark.functions.curation import normalize_url

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".test/Docs/"),
            did,
            F.when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                F.concat(F.lit("?utm_source=feed&q="), did,
                         F.lit("&utm_campaign=x")),
            ).when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 1,
                F.concat(F.lit("/?gclid=abc"), did, F.lit("#sec-2")),
            ).otherwise(F.lit("/")),
        ).alias("url"),
    )
    return u.select(
        "doc_id", "url", normalize_url("url").alias("url_norm")
    ).transform(_srt("doc_id"))


_URL_NORMALIZE_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'HTTPS://WWW.' || upper(source) || '.test/Docs/'
         || CAST(doc_id AS VARCHAR)
         || CASE doc_id % 3
              WHEN 0 THEN '?utm_source=feed&q=' || CAST(doc_id AS VARCHAR)
                          || '&utm_campaign=x'
              WHEN 1 THEN '/?gclid=abc' || CAST(doc_id AS VARCHAR)
                          || '#sec-2'
              ELSE '/'
            END AS url
  FROM documents
),
s AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*')) AS head,
         regexp_replace(url,
           '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', '') AS rest
  FROM u
)
SELECT doc_id, url,
       head || regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(rest, '#.*$', ''),
             '(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
           '[?&]+$', ''),
         '/$', '') AS url_norm
FROM s ORDER BY doc_id
"""


def _doc_sample_stratified(spark, sf):
    """Deterministic stratified sampling: keep iff a portable
    md5-derived hash bucket of doc_id falls under the stratum's rate —
    reproducible across runs/engines, zero shuffle (pure filter)."""
    from lexoid_spark.functions.curation import stratified_sample

    docs = _t(spark, sf, "documents")
    rates = {"en": 1.0, "de": 0.5, "fr": 0.25}
    return (
        stratified_sample(docs, "doc_id", "lang", rates, default_rate=0.1)
        .select("doc_id", "lang")
        .transform(_srt("doc_id"))
    )


_DOC_SAMPLE_SQL = r"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 15))
        ::BIGINT % 10000
      < CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
                  WHEN 'fr' THEN 2500 ELSE 1000 END
ORDER BY doc_id
"""


def _token_pack_bins(spark, sf):
    """Context-window packing: docs in id order fill 4096-token bins
    via a DISTRIBUTED prefix sum (per-partition cumsum + P-row driver
    offsets — not a single-partition global window)."""
    from lexoid_spark.functions.curation import packed_bins
    from lexoid_spark.functions.textstats import token_count

    docs = _t(spark, sf, "documents")
    wt = docs.select("doc_id", token_count("text").alias("nt"))
    bins = packed_bins(wt, "doc_id", "nt", 4096)
    return (
        bins.groupBy("bin")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("sum_tokens"))
        .transform(_srt("bin"))
    )


def _word_count_top(spark, sf):
    """The canonical corpus frequency query: global top-20 tokens
    (explode → groupBy with map-side combine → top-k). Deterministic
    tie-break on the token."""
    from lexoid_spark.functions.textstats import tokens

    docs = _t(spark, sf, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


_WORD_COUNT_SQL = r"""
SELECT tok, COUNT(*) AS n FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
) GROUP BY tok ORDER BY n DESC, tok LIMIT 20
"""


def _cms_token_freq(spark, sf):
    """Count-Min sketch point estimates vs exact counts for a fixed
    probe set (incl. an absent token → estimate 0..collision bound).
    The sketch is depth×width relational cells built with portable
    md5 hashing, so the oracle reproduces every cell — the mergeable
    frequency sketch for corpora too big to groupBy every token."""
    from lexoid_spark.functions.textstats import (
        cms_estimate,
        count_min_sketch,
        tokens,
    )

    docs = _t(spark, sf, "documents")
    sk = count_min_sketch(docs, "text", depth=4, width=256)
    probes = ["the", "scan", "merge", "window", "zzz_absent"]
    est = cms_estimate(sk, probes, depth=4, width=256)
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(probes))
        .groupBy("tok").agg(F.count("*").alias("exact_n"))
    )
    return (
        est.join(exact, "tok", "left")
        .select("tok", "est",
                F.coalesce("exact_n", F.lit(0)).alias("exact_n"))
        .transform(_srt("tok"))
    )


_CMS_TOKEN_FREQ_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
rs AS (SELECT unnest(range(0, 4)) AS r),
cells AS (
  SELECT r,
         ('0x' || substr(md5(tok || ':cms' || r), 1, 15))::BIGINT % 256
           AS bucket,
         COUNT(*) AS cnt
  FROM toks, rs GROUP BY r, bucket
),
probes(tok) AS (
  VALUES ('the'), ('scan'), ('merge'), ('window'), ('zzz_absent')
),
pk AS (
  SELECT tok, r,
         ('0x' || substr(md5(tok || ':cms' || r), 1, 15))::BIGINT % 256
           AS bucket
  FROM probes, rs
),
est AS (
  SELECT tok, MIN(COALESCE(cnt, 0)) AS est
  FROM pk LEFT JOIN cells USING (r, bucket) GROUP BY tok
),
exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM toks
  WHERE tok IN ('the', 'scan', 'merge', 'window', 'zzz_absent')
  GROUP BY tok
)
SELECT est.tok, est.est, COALESCE(exact_n, 0) AS exact_n
FROM est LEFT JOIN exact USING (tok) ORDER BY tok
"""


def _customer_balance_deciles(spark, sf):
    """ntile(10) balance deciles per market segment (the bucketing
    window family beyond row_number/rank/lag) with per-decile
    aggregates — deterministic total order via the key tiebreak."""
    cust = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .groupBy("c_mktsegment", "decile")
        .agg(F.count("*").alias("n"),
             F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .transform(_srt("c_mktsegment", "decile"))
    )


_CUSTOMER_DECILES_SQL = """
SELECT c_mktsegment, decile, COUNT(*) AS n,
       ROUND(AVG(c_acctbal), 2) AS avg_bal
FROM (
  SELECT c_mktsegment, c_acctbal,
         NTILE(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey ASC) AS decile
  FROM customer
)
GROUP BY c_mktsegment, decile ORDER BY c_mktsegment, decile
"""


def _customer_setops(spark, sf):
    """Explicit set operators (the U-family as a query): BUILDING-
    segment customers INTERSECT customers with orders, EXCEPT the
    bottom balance decile — distinct-set semantics end to end."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey")
    with_orders = orders.select(
        F.col("o_custkey").alias("c_custkey")).distinct()
    low = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        building.intersect(with_orders).exceptAll(low)
        .transform(_srt("c_custkey"))
    )


_CUSTOMER_SETOPS_SQL = """
SELECT c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
) ORDER BY c_custkey
"""


def _price_quantity_corr(spark, sf):
    """Correlation / covariance / stddev aggregates per return flag —
    rounded to 6 dp because the two engines' running-moment updates
    differ in the last ulp (both are numerically-stable single-pass
    forms; the statistic is identical to far beyond 6 dp)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6)
             .alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
             .alias("covar_qty_price"),
            F.round(F.stddev_samp("l_discount"), 6)
             .alias("stddev_discount"),
            F.count("*").alias("n"),
        )
        .transform(_srt("l_returnflag"))
    )


_PRICE_QTY_CORR_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4)
         AS covar_qty_price,
       ROUND(stddev_samp(l_discount), 6) AS stddev_discount,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _z_order_layout(spark, sf):
    """Morton (Z-order) clustering keys over (doc length, lang hash) —
    the data-layout key behind OPTIMIZE ZORDER: sorting files by it
    makes min/max stats selective for filters on EITHER dimension.
    Pure bit arithmetic, bit-identical in SQL."""
    from lexoid_spark.functions.dedup import _md5_hash64
    from lexoid_spark.operators.partitioning import z_order_key

    docs = _t(spark, sf, "documents")
    a = F.least(F.col("n_chars"), F.lit(65535))
    b = F.pmod(_md5_hash64(F.col("lang")), F.lit(65536))
    return docs.select(
        "doc_id", z_order_key(a, b).alias("zkey")
    ).transform(_srt("doc_id"))


def _z_order_sql(bits: int = 16) -> str:
    a = "LEAST(n_chars, 65535)"
    b = "(('0x' || substr(md5(lang), 1, 15))::BIGINT % 65536)"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return (
        "SELECT doc_id, " + " + ".join(terms)
        + " AS zkey FROM documents ORDER BY doc_id"
    )


_Z_ORDER_SQL = _z_order_sql(16)


def _hll_doc_registers(spark, sf):
    """HyperLogLog distinct-count registers over document texts — the
    third canonical sketch (CMS = frequency, Bloom = membership,
    HLL = cardinality). Exact integer rho via binary-string bit
    length (no float log2), so every register mirrors in SQL; merge
    across shards/days is cell-wise MAX."""
    from lexoid_spark.functions.textstats import hll_registers

    docs = _t(spark, sf, "documents")
    return hll_registers(docs, "text", n_buckets=256).transform(_srt("bucket"))


_HLL_REGISTERS_SQL = r"""
WITH h AS (
  SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS v FROM documents
),
b AS (
  SELECT v % 256 AS bucket,
         53 - length(regexp_replace(bin(v // 256), '^0+', '')) AS rho
  FROM h
)
SELECT bucket, MAX(rho) AS max_rho FROM b GROUP BY bucket
ORDER BY bucket
"""


def _bloom_url_filter(spark, sf):
    """Portable Bloom-filter membership: build over the 'seen' URL set
    (even doc_ids), probe a mixed set — no false negatives, bounded
    false positives. The relational bit set broadcasts (the structure
    behind semi-join pruning at scale); md5-derived positions so the
    oracle reproduces every bit."""
    from lexoid_spark.functions.textstats import bloom_build, bloom_probe

    docs = _t(spark, sf, "documents")
    url = F.concat(F.lit("u://"), F.col("doc_id").cast("string"))
    seen = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        url.alias("u")
    )
    bloom = bloom_build(seen, "u")
    probes = docs.filter(F.col("doc_id") < 40).select(url.alias("u"))
    res = bloom_probe(bloom, probes, "u").withColumnRenamed("key", "u")
    return (
        res.join(seen.withColumn("_a", F.lit(True)), "u", "left")
        .select("u", "maybe_present",
                F.coalesce("_a", F.lit(False)).alias("actually_present"))
        .transform(_srt("u"))
    )


_BLOOM_URL_SQL = r"""
WITH seen AS (
  SELECT 'u://' || CAST(doc_id AS VARCHAR) AS u FROM documents
  WHERE doc_id % 2 = 0
),
rs AS (SELECT unnest(range(0, 4)) AS r),
bloom AS (
  SELECT DISTINCT
         ('0x' || substr(md5(u || ':bl' || r), 1, 15))::BIGINT % 4096
           AS bit
  FROM seen, rs
),
probes AS (
  SELECT 'u://' || CAST(doc_id AS VARCHAR) AS u FROM documents
  WHERE doc_id < 40
),
pk AS (
  SELECT u,
         ('0x' || substr(md5(u || ':bl' || r), 1, 15))::BIGINT % 4096
           AS bit
  FROM probes, rs
),
hits AS (
  SELECT u, COUNT(*) AS nh FROM pk
  WHERE bit IN (SELECT bit FROM bloom) GROUP BY u
)
SELECT p.u, COALESCE(nh, 0) = 4 AS maybe_present,
       s.u IS NOT NULL AS actually_present
FROM (SELECT DISTINCT u FROM probes) p
LEFT JOIN hits USING (u)
LEFT JOIN seen s USING (u)
ORDER BY p.u
"""


def _sales_rollup(spark, sf):
    """ROLLUP aggregation (nation → grand total) over customer orders
    — the grouping-sets shape: subtotal rows carry NULL group keys and
    a grouping id, exactly as the SQL ROLLUP the oracle runs."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(F.grouping_id("n_name", "o_year").alias("gid"),
             F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select("n_name", "o_year", "gid", "n_orders", "total")
        .transform(_srt("gid", "n_name", "o_year"))
    )


_SALES_ROLLUP_SQL = """
SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
       GROUPING(n_name, EXTRACT(year FROM o_orderdate)) AS gid,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, EXTRACT(year FROM o_orderdate))
ORDER BY gid, n_name, o_year
"""


def _orders_pivot(spark, sf):
    """PIVOT: order counts by year × priority class, priorities as
    columns (explicit value list so the schema is deterministic);
    the oracle mirrors with conditional aggregation."""
    orders = _t(spark, sf, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .pivot("o_orderpriority", pris)
        .count()
        .withColumnsRenamed({p: f"p{p[0]}" for p in pris})
        .transform(_srt("o_year"))
    )


_ORDERS_PIVOT_SQL = """
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
FROM orders GROUP BY o_year ORDER BY o_year
"""


def _events_funnel(spark, sf):
    """Funnel conversion (signup → purchase): per user, first signup
    and the first purchase AFTER it; conversion flag + days-to-convert.
    One conditional aggregation per user — no self-join of the events
    table (the naive funnel join is quadratic in events-per-user)."""
    ev = _t(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
         .alias("signup_ts"),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per_user, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        per_user.filter(F.col("signup_ts").isNotNull())
        .join(purch, "user_id", "left")
        .select(
            "user_id", "signup_ts",
            F.col("purchase_ts").isNotNull().alias("converted"),
            F.when(
                F.col("purchase_ts").isNotNull(),
                F.round(
                    (F.unix_timestamp("purchase_ts")
                     - F.unix_timestamp("signup_ts")) / 86400.0, 4),
            ).alias("days_to_convert"),
        )
        .transform(_srt("user_id"))
    )


_EVENTS_FUNNEL_SQL = """
WITH su AS (
  SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'signup')
           AS signup_ts
  FROM events GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY e.user_id
)
SELECT su.user_id, su.signup_ts,
       pu.purchase_ts IS NOT NULL AS converted,
       CASE WHEN pu.purchase_ts IS NOT NULL THEN
         ROUND(date_diff('second', su.signup_ts, pu.purchase_ts)
               / 86400.0, 4)
       END AS days_to_convert
FROM su LEFT JOIN pu ON su.user_id = pu.user_id
WHERE su.signup_ts IS NOT NULL
ORDER BY su.user_id
"""


def _events_rolling_7d(spark, sf):
    """Rolling 7-day event-count and value-sum per event_type over
    daily buckets — the RANGE-frame window shape (prior windows here
    are rank/lag ROWS frames). Aggregate to days first so the window
    slides over ~365 rows per type, not raw events."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type", "day",
            F.sum("n").over(w).alias("n_7d"),
            F.round(F.sum("v").over(w), 2).alias("v_7d"),
        )
        .transform(_srt("event_type", "day"))
    )


_EVENTS_ROLLING_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
         ROUND(SUM(value), 2) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, day,
       CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
       ROUND(SUM(v) OVER w, 2) AS v_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


def _events_session_window(spark, sf):
    """Native session windows (F.session_window, the built-in Spark
    sessionization the window/lag variant `events_sessions` hand-rolls
    and `streaming/sessionize.py` does statefully): per-(user,
    session) aggregates with 30-min gap semantics — an event merges
    iff it falls strictly inside the previous event's ts + gap, and
    window end = last ts + gap. The oracle replays that as
    gaps-and-islands."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "sum_value",
        )
        .transform(_srt("user_id", "session_start"))
    )


_EVENTS_SESSION_WINDOW_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def _corpus_percentiles(spark, sf):
    """Per-language document-length percentiles (exact interpolated
    percentile — the corpus-analytics pass that sizes Arrow batches,
    skew thresholds, and chunk lengths). Native percentile(): one
    shuffle on lang. At 10^12 rows you'd switch to percentile_approx
    (t-digest) — kept exact here so DuckDB's quantile_cont mirrors it
    bit-for-bit."""
    docs = _t(spark, sf, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.percentile("n_chars", 0.5).alias("p50"),
            F.percentile("n_chars", 0.9).alias("p90"),
            F.percentile("n_chars", 0.99).alias("p99"),
            F.count("*").alias("n_docs"),
        )
        .transform(_srt("lang"))
    )


_CORPUS_PERCENTILES_SQL = """
SELECT lang,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       quantile_cont(n_chars, 0.99) AS p99,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang
"""


def _link_pagerank(spark, sf):
    """PageRank over a deterministic link graph (each doc links to
    (id+3)%N and (id+7)%N — a bijective construction, so in-degree is
    exactly 2 and per-node contribution sums are order-independent:
    the SQL oracle replays the 4 rounded iterations bit-for-bit).
    One shuffle per iteration, (node, double) pairs only."""
    from lexoid_spark.operators.graph import pagerank

    docs = _t(spark, sf, "documents")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        (F.pmod(F.col("doc_id") + 3, F.lit(n))).alias("dst"),
    ).unionByName(docs.select(
        F.col("doc_id").alias("src"),
        (F.pmod(F.col("doc_id") + 7, F.lit(n))).alias("dst"),
    ))
    return (
        pagerank(edges, iterations=4)
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id"))
    )


def _pagerank_oracle_sql(iters: int = 4) -> str:
    head = """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id + 3) % (SELECT n FROM nn) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id + 7) % (SELECT n FROM nn) FROM documents
),
deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
r0 AS (SELECT doc_id AS id, 1.0 / (SELECT n FROM nn) AS rank
       FROM documents),
"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""r{i} AS (
  SELECT n0.id,
         ROUND((1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(p.rank / deg.dg), 0), 8) AS rank
  FROM r0 n0
  LEFT JOIN e ON e.dst = n0.id
  LEFT JOIN r{i - 1} p ON p.id = e.src
  LEFT JOIN deg ON deg.src = e.src
  GROUP BY n0.id
)""")
    return (head + ",\n".join(steps)
            + f"\nSELECT id AS doc_id, rank FROM r{iters} ORDER BY doc_id")


_LINK_PAGERANK_SQL = _pagerank_oracle_sql(4)


def _chunk_windows(spark, sf):
    """Overlapping token-window chunking (64-token chunks, 16 overlap)
    — the RAG/training windowing op. All-native sequence/posexplode/
    slice over ONE tokenization; only the explode multiplies rows."""
    from lexoid_spark.functions.curation import chunk_by_tokens

    docs = _tp(spark, sf, "documents")
    return (
        chunk_by_tokens(docs, "doc_id", "text", 64, overlap=16)
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id", "chunk_id"))
    )


_CHUNK_WINDOWS_SQL = r"""
WITH m AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start
  FROM m
)
SELECT doc_id,
       CAST((start - 1) // 48 AS INT) AS chunk_id,
       CAST(len(toks[start:start+63]) AS INT) AS n_tokens,
       array_to_string(toks[start:start+63], ' ') AS chunk
FROM s ORDER BY doc_id, chunk_id
"""


def _mixture_rebalance(spark, sf):
    """Source-mixture rebalancing: char-weighted shares are pushed
    toward a target mixture (every 4th source gets 20%, the rest
    2%) by deterministic hash downsampling. Thresholds are exact
    integer arithmetic from ONE control-plane aggregation, so the SQL
    oracle reproduces them bit-for-bit."""
    from lexoid_spark.functions.curation import rebalance_mixture

    docs = _t(spark, sf, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    targets = {
        s: 2000 if int(s[3:]) % 4 == 0 else 200 for s in sources
    }
    return (
        rebalance_mixture(docs, "doc_id", "source", "n_chars", targets)
        .select("doc_id", "source", "n_chars")
        .transform(_srt("doc_id"))
    )


_MIXTURE_REBALANCE_SQL = r"""
WITH tot AS (
  SELECT source, SUM(n_chars) AS ws FROM documents GROUP BY source
),
thr AS (
  SELECT source,
         LEAST(10000,
               (CASE WHEN CAST(substr(source, 4) AS BIGINT) % 4 = 0
                     THEN 2000 ELSE 200 END
                * (SELECT SUM(ws) FROM tot)) // ws) AS th
  FROM tot
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN thr USING (source)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15))
        ::BIGINT % 10000 < th
ORDER BY d.doc_id
"""


def _decontaminate(spark, sf):
    """Test-set decontamination (GPT-3-style n-gram rule, n=8 here so
    the SQL mirror stays manageable; operator default is 13): flag
    every document sharing a word 8-gram with a benchmark set — the
    benchmark is synthesized as the first 120 chars of every 37th
    document, so the flagged set is those sources plus any true
    prefix collisions. Corpus side shuffles only (id, hash) pairs;
    the tiny benchmark gram set broadcasts."""
    from lexoid_spark.functions.curation import decontaminate

    docs = _tp(spark, sf, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(37)) == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    return (
        decontaminate(docs, bench, "doc_id", "text", n=8)
        .withColumnRenamed("id", "doc_id")
        .transform(_srt("doc_id"))
    )


_DECONTAMINATE_SQL = r"""
WITH bsrc AS (
  SELECT substr(text, 1, 120) AS text FROM documents WHERE doc_id % 37 = 0
),
bm AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM bsrc),
bg AS (
  SELECT DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM (
    SELECT unnest(list_transform(range(0, len(toks) - 7),
                  i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
    FROM bm WHERE len(toks) >= 8
    UNION ALL
    SELECT array_to_string(toks, ' ') AS gram FROM bm WHERE len(toks) < 8
  )
),
dm AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
       FROM documents),
dg AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM (
    SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7),
                   i -> array_to_string(toks[i+1:i+8], ' '))) AS gram
    FROM dm WHERE len(toks) >= 8
    UNION ALL
    SELECT doc_id, array_to_string(toks, ' ') AS gram FROM dm
    WHERE len(toks) < 8
  )
)
SELECT DISTINCT doc_id FROM dg WHERE h IN (SELECT h FROM bg)
ORDER BY doc_id
"""


def _charlm_familiarity(spark, sf):
    """CCNet-shaped LM filter analogue: per-language char-bigram table
    trained on the corpus itself (top-512, broadcast), each doc scored
    by the mean corpus count of its bigrams — exact integer arithmetic
    end to end, so the DuckDB oracle reproduces every score."""
    from lexoid_spark.functions.curation import charlm_familiarity

    docs = _t(spark, sf, "documents")
    return charlm_familiarity(docs, "doc_id", "text", "lang",
                              top_k=512).transform(_srt("doc_id"))


_CHARLM_SQL = """
WITH bg AS (
  SELECT doc_id AS id, lang, substring(text, CAST(i AS INT), 2) AS bg
  FROM documents, UNNEST(range(1, length(text))) AS t(i)
  WHERE length(text) >= 2
),
cnts AS (SELECT lang, bg, count(*) AS cnt FROM bg GROUP BY lang, bg),
tab AS (
  SELECT lang, bg, cnt FROM (
    SELECT lang, bg, cnt,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, bg ASC) AS rk
    FROM cnts) WHERE rk <= 512
)
SELECT b.id AS doc_id, SUM(COALESCE(t.cnt, 0)) AS fam_sum,
       COUNT(*) AS n_bigrams,
       ((2 * SUM(COALESCE(t.cnt, 0)) * 1000000 + COUNT(*))
        // (2 * COUNT(*))) / 1000000.0 AS familiarity
FROM bg b LEFT JOIN tab t ON b.lang = t.lang AND b.bg = t.bg
GROUP BY b.id ORDER BY doc_id
"""


def _curation_pipeline(spark, sf):
    """The composed end-to-end curation decision a training pipeline
    ships: Gopher quality gate → exact-dedup keepers (within the
    surviving set) → deterministic per-lang stratified sampling →
    PII-redacted text + token count out. Every stage is an operator
    with its own oracled query; this pins that they COMPOSE."""
    from lexoid_spark.functions.curation import (
        pii_redact,
        stratified_sample,
    )
    from lexoid_spark.functions.dedup import exact_dedup
    from lexoid_spark.functions.textstats import (
        gopher_quality_flags,
        token_count,
    )

    docs = _t(spark, sf, "documents")
    quality = docs.filter(
        gopher_quality_flags(F.col("text")).getField("passes")
    )
    keepers = exact_dedup(quality, "doc_id", "text").select("doc_id")
    kept = docs.join(keepers, "doc_id")
    sampled = stratified_sample(
        kept, "doc_id", "lang", {"en": 1.0, "de": 1.0}, default_rate=0.5
    )
    return sampled.select(
        "doc_id", "lang",
        token_count("text").alias("n_tokens"),
        pii_redact("text").alias("text_clean"),
    ).transform(_srt("doc_id"))


_CURATION_PIPELINE_SQL = rf"""
WITH q AS (
  SELECT doc_id FROM ({_GOPHER_SQL.strip().rstrip()}) g WHERE passes
),
qd AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(regexp_replace(text,
              '\\[a-zA-Z]+(\[[^\]]*\])?(\{{[^}}]*\}})?', ' ', 'g'),
              '\s+', ' ', 'g'),
              '[^a-zA-Z0-9 ]', ' ', 'g'))) AS f
  FROM qd
),
keepers AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) rn
    FROM fp
  ) WHERE rn = 1
),
sampled AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN keepers USING (doc_id)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':strat'),
                        1, 15))::BIGINT % 10000
        < CASE d.lang WHEN 'en' THEN 10000 WHEN 'de' THEN 10000
                      ELSE 5000 END
)
SELECT doc_id, lang,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT)
         AS n_tokens,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{{2,}}',
             '<EMAIL>', 'g'),
           '\b(?:\d{{1,3}}\.){{3}}\d{{1,3}}\b', '<IP>', 'g'),
         '\+\d{{7,15}}\b|\b\d{{3}}[-.]\d{{3,4}}[-.]\d{{4}}\b',
         '<PHONE>', 'g') AS text_clean
FROM sampled ORDER BY doc_id
"""


def _pdf_objstm_extract(spark, sf):
    """PDF 1.5 object-stream dialect through the FULL extract() plan:
    every dict object (catalog/pages/page/fonts) lives only inside a
    Flate-compressed /Type /ObjStm container, so parsing requires the
    container expansion (kernels/pdf_md._expand_object_streams). Word
    layout is closed-form from doc_id so DuckDB predicts the final
    markdown without touching a byte of PDF."""
    from lexoid_spark.corpus.pdf_gen import build_pdf

    def objstm_pdf(d: int) -> bytes:
        k = d % 4 + 2
        words = [
            {"text": f"o{j}x{d % 7}", "x": 72.0 + 48.0 * j,
             "y": 700.0, "size": 12.0, "font": "F1"}
            for j in range(k)
        ]
        return build_pdf([{"words": words}], compress=True, objstm=True)

    out = _fixture_extract(spark, sf, "opdf.test", objstm_pdf,
                           "objstm_check")["extracted"]
    return out.select("url", "raw", "n_chars").transform(_srt("url"))


_PDF_OBJSTM_SQL = """
WITH base AS (
  SELECT doc_id, doc_id % 4 + 2 AS k, CAST(doc_id % 7 AS VARCHAR) AS m
  FROM documents
),
r AS (
  SELECT 'http://opdf.test/' || CAST(doc_id AS VARCHAR) AS url,
         'o0x' || m || ' o1x' || m
         || CASE WHEN k >= 3 THEN ' o2x' || m ELSE '' END
         || CASE WHEN k >= 4 THEN ' o3x' || m ELSE '' END
         || CASE WHEN k >= 5 THEN ' o4x' || m ELSE '' END
         || chr(10) || chr(10) AS raw
  FROM base
)
SELECT url, raw, length(raw) AS n_chars FROM r ORDER BY url
"""


def _stream_dedup(spark, sf):
    """Streaming dedup-at-ingest END-TO-END: a pages-shaped stream
    (synthesized from documents with injected cross-document duplicate
    texts) runs through streaming/dedup.dedup_stream (AvailableNow,
    sink-as-state, per-batch overwrite) and the SURVIVORS are returned.
    The keeper is min(struct(url, ...)) per fingerprint, which the
    oracle mirrors as a row_number window. Input is coalesced to one
    file so the whole drop lands in one microbatch (cross-batch
    keeper choice is by arrival order, which SQL cannot see)."""
    import os
    import shutil

    from lexoid_spark.streaming.dedup import dedup_stream, read_deduped

    tag = os.path.basename(sf.rstrip("/"))
    base = f"/tmp/entry_stream_dedup_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = (os.path.join(base, d)
                             for d in ("in", "out", "ckpt"))

    docs = _t(spark, sf, "documents")
    schema = "url string, warc_ts timestamp, text string, lang string"
    (
        docs.select(
            F.concat(F.lit("u"),
                     F.lpad(F.col("doc_id").cast("string"), 8, "0")
                     ).alias("url"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("doc_id").cast("double"))
             ).alias("warc_ts"),
            F.concat(F.lit("shared text "),
                     F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
                     ).alias("text"),
            F.col("lang"),
        )
        .coalesce(1)
        .write.parquet(in_dir)
    )
    dedup_stream(spark, in_dir, out_dir, ckpt, schema=schema)
    return (
        read_deduped(spark, out_dir)
        .select("url", "text", "lang")
        .transform(_srt("url"))
    )


_STREAM_DEDUP_SQL = r"""
WITH src AS (
  SELECT 'u' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
         'shared text ' || CAST(doc_id % 50 AS VARCHAR) AS text,
         lang,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(doc_id) AS warc_ts
  FROM documents
),
k AS (
  SELECT url, text, lang,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(trim(text), '\s+', ' ', 'g'))
           ORDER BY url, warc_ts, text, lang
         ) AS rn
  FROM src
)
SELECT url, text, lang FROM k WHERE rn = 1 ORDER BY url
"""


_TOKEN_PACK_SQL = r"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
  FROM documents
),
c AS (
  SELECT doc_id, nt,
         COALESCE(SUM(nt) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum
  FROM w
)
SELECT CAST(FLOOR(cum / 4096.0) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS sum_tokens
FROM c GROUP BY 1 ORDER BY bin
"""


def _c4_filter(spark, sf):
    """C4-style line+page cleaning (Raffel et al. 2020 §2.2 public
    rules) over deterministically re-lined pages: the one-line corpus
    docs are split into 10-word lines with a (doc_id+line)%3-driven
    terminal-punctuation pattern, plus an injected javascript line and
    a 'lorem ipsum' page-killer for doc_id%53==0 — so every rule
    (terminal punct, >=5 words, javascript, lorem-ipsum page drop,
    >=3 surviving lines) demonstrably fires. Zero-shuffle plan: split +
    higher-order filter + array_join ride the scan."""
    from lexoid_spark.functions.curation import c4_line_filter

    docs = _tp(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    body = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(toks) - 1) / 10).cast("int")
        ),
        lambda j: F.concat(
            F.array_join(F.slice(toks, j * 10 + 1, 10), " "),
            F.when((F.col("doc_id") + j) % 3 == 0, F.lit(""))
            .when((F.col("doc_id") + j) % 3 == 1, F.lit("."))
            .otherwise(F.lit("?")),
        ),
    )
    page = F.concat(
        F.array_join(body, "\n"),
        F.lit("\nPlease enable javascript to continue viewing."),
        F.when(F.col("doc_id") % 53 == 0,
               F.lit("\nmore lorem ipsum filler here."))
        .otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", page.alias("page"))
    out = c4_line_filter(pages, "doc_id", "page")
    return out.select(
        F.col("id").alias("doc_id"), "n_lines", "n_kept", "text_clean"
    ).transform(_srt("doc_id"))


_C4_FILTER_SQL = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
pages AS (
  SELECT doc_id,
    array_to_string(
      list_transform(range(0, (len(t) - 1) // 10 + 1),
        j -> array_to_string(t[j*10+1 : j*10+10], ' ') ||
             CASE (doc_id + j) % 3
               WHEN 0 THEN '' WHEN 1 THEN '.' ELSE '?' END),
      chr(10))
    || chr(10) || 'Please enable javascript to continue viewing.'
    || CASE WHEN doc_id % 53 = 0
            THEN chr(10) || 'more lorem ipsum filler here.'
            ELSE '' END AS page
  FROM tk
),
f AS (
  SELECT doc_id,
    len(string_split(page, chr(10))) AS n_lines,
    list_filter(string_split(page, chr(10)),
      L -> regexp_matches(trim(L), '[.!?"]$')
        AND len(regexp_split_to_array(trim(L), '\s+')) >= 5
        AND NOT contains(lower(L), 'javascript')) AS kept,
    lower(page) AS lo
  FROM pages
)
SELECT doc_id, n_lines, len(kept) AS n_kept,
       array_to_string(kept, chr(10)) AS text_clean
FROM f
WHERE NOT contains(lo, 'lorem ipsum') AND NOT contains(lo, '{')
  AND len(kept) >= 3
ORDER BY doc_id
"""


def _dsir_importance(spark, sf):
    """DSIR-shaped hashed importance weights: target = English docs,
    raw = whole corpus; both 1024-bucket count tables BROADCAST, the
    word explode feeds training and scoring in one pass, and the
    importance ratio is an exact half-up-6dp rational so the oracle
    matches bit-for-bit."""
    from lexoid_spark.functions.curation import dsir_weights

    docs = _tp(spark, sf, "documents")
    return dsir_weights(
        docs, "doc_id", "text", F.col("lang") == "en", n_buckets=1024
    ).transform(_srt("doc_id"))


_DSIR_SQL = r"""
WITH words AS (
  SELECT doc_id, lang = 'en' AS is_t,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS h
  FROM (SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0)
),
tc AS (SELECT h, count(*) AS nt FROM words WHERE is_t GROUP BY h),
rc AS (SELECT h, count(*) AS nr FROM words GROUP BY h)
SELECT w.doc_id,
       SUM(COALESCE(t.nt, 0)) AS sum_t,
       SUM(r.nr) AS sum_r,
       ((2 * SUM(COALESCE(t.nt, 0)) * 1000000 + SUM(r.nr))
        // (2 * SUM(r.nr))) / 1000000.0 AS importance
FROM words w
LEFT JOIN tc t ON w.h = t.h
JOIN rc r ON w.h = r.h
GROUP BY w.doc_id ORDER BY doc_id
"""


_UNIMAX_ALLOC_CTE = """
WITH caps AS (
  SELECT lang AS stratum, count(*) AS cap FROM documents GROUP BY lang
),
o AS (
  SELECT stratum, cap,
         ROW_NUMBER() OVER (ORDER BY cap ASC, stratum ASC) AS i,
         COUNT(*) OVER () AS k,
         SUM(cap) OVER () AS total,
         COALESCE(SUM(cap) OVER (ORDER BY cap ASC, stratum ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_prev
  FROM caps
),
o2 AS (SELECT *, total * 80 // 100 AS b FROM o),
o3 AS (
  SELECT *,
    MIN(CASE WHEN cap * (k - i + 1) > b - cum_prev THEN i END)
      OVER () AS uncapped_i
  FROM o2
),
o4 AS (
  SELECT *,
    MAX(CASE WHEN i = uncapped_i THEN b - cum_prev END)
      OVER () AS rem_at_i0
  FROM o3
),
alloc AS (
  SELECT stratum, cap,
    CAST(CASE WHEN uncapped_i IS NULL OR i < uncapped_i THEN cap
         ELSE rem_at_i0 // (k - uncapped_i + 1)
              + CASE WHEN i - uncapped_i
                          < rem_at_i0 % (k - uncapped_i + 1)
                     THEN 1 ELSE 0 END
         END AS BIGINT) AS alloc
  FROM o4
)
"""


def _unimax_alloc(spark, sf):
    """UniMax waterfilled budget per language (80% of the corpus):
    exact-integer closed-form allocation — capped prefix takes its
    capacity, the first uncapped index fixes the equal share and
    remainder. Control-plane windows over the #langs-row aggregate."""
    from lexoid_spark.functions.curation import unimax_allocation

    docs = _t(spark, sf, "documents")
    return unimax_allocation(docs, "doc_id", "lang",
                             budget_pct=80).transform(_srt("stratum"))


_UNIMAX_ALLOC_SQL = (
    _UNIMAX_ALLOC_CTE
    + "SELECT stratum, cap, alloc FROM alloc ORDER BY stratum"
)


def _unimax_sample(spark, sf):
    """Exact-quota selection under the UniMax allocation: first
    ``alloc`` docs per language by (md5(doc_id), doc_id) — the
    deterministic exact complement to the zero-shuffle approximate
    ``stratified_sample``."""
    from lexoid_spark.functions.curation import unimax_sample

    docs = _t(spark, sf, "documents")
    return unimax_sample(docs, "doc_id", "lang",
                         budget_pct=80).transform(_srt("doc_id"))


_UNIMAX_SAMPLE_SQL = (
    _UNIMAX_ALLOC_CTE
    + """,
ranked AS (
  SELECT doc_id, lang AS stratum,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                    15))::BIGINT ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT r.doc_id, r.stratum
FROM ranked r JOIN alloc a ON r.stratum = a.stratum
WHERE r.rk <= a.alloc
ORDER BY doc_id
"""
)


def _semdedup_keep(spark, sf):
    """SemDeDup-shaped keep list: within each IVF cluster drop every
    vector within cosine tau of ANY lower-id vector (dominated-by-
    lower-id — stricter than sequential greedy on similarity chains,
    see semdedup_keepers docstring), then LEFT ANTI join back. Same
    tau/centroids as emb_near_dup, so the float-noise caveat there
    covers this composition too."""
    from lexoid_spark.functions.similarity import semdedup_keepers

    emb = _t(spark, sf, "embeddings")
    return semdedup_keepers(emb, tau=0.35, n_centroids=8).transform(_srt("vec_id"))


_SEMDEDUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
pairs AS (
  SELECT a.vid AS id_a, b.vid AS id_b
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vid < b.vid
  WHERE list_cosine_similarity(a.vv, b.vv) >= 0.35
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT id_b FROM pairs)
ORDER BY vec_id
"""


def _semdedup_greedy(spark, sf):
    """Paper-faithful SemDeDup (greedy keep-first, Abbas et al. 2023):
    drop a vector iff it is within cosine tau of a KEPT lower-id
    vector — on chains a~b~c this keeps {a, c} where the dominance
    policy (semdedup_keep) keeps {a}. Computed as the
    lexicographically-first maximal independent set of the near-dup
    graph via relational rounds (similarity.py); the oracle replays
    the identical rounds as a recursive CTE over the same pair set."""
    from lexoid_spark.functions.similarity import semdedup_keepers_greedy

    emb = _t(spark, sf, "embeddings")
    return semdedup_keepers_greedy(
        emb, tau=0.35, n_centroids=8).transform(_srt("vec_id"))


_SEMDEDUP_GREEDY_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vid, vv, cid FROM (
    SELECT e.vec_id AS vid, e.v AS vv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC
           ) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
prs AS (
  SELECT a.vid AS id_a, b.vid AS id_b
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vid < b.vid
  WHERE list_cosine_similarity(a.vv, b.vv) >= 0.35
),
nodes AS (SELECT vec_id AS id FROM embeddings),
dec(id, kept) AS (
  SELECT n.id, true FROM nodes n
  WHERE NOT EXISTS (SELECT 1 FROM prs WHERE prs.id_b = n.id)
  UNION
  SELECT * FROM (
    SELECT d.id, d.kept FROM dec d
    UNION
    SELECT p.id_b, false FROM prs p JOIN dec d ON p.id_a = d.id AND d.kept
    UNION
    SELECT n.id, true FROM nodes n
    WHERE n.id NOT IN (SELECT id FROM dec)
      AND NOT EXISTS (
        SELECT 1 FROM prs WHERE prs.id_b = n.id
        AND prs.id_a NOT IN (SELECT id FROM dec d2 WHERE NOT d2.kept))
  ) s
)
SELECT id AS vec_id FROM dec WHERE kept ORDER BY vec_id
"""


def _dup_span_removal(spark, sf):
    """Exact-substring-dedup shape (Lee et al. 2022) over injected
    cross-document boilerplate: a shared 8-word header and a per-lang
    9-word footer guarantee duplicated 8-gram windows; every covered
    word is removed from every doc. The dup-gram set is a two-level
    map-side-combinable aggregation; masking is per-row native HOFs."""
    from lexoid_spark.functions.curation import duplicate_span_removal

    docs = _tp(spark, sf, "documents")
    body = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lit("shared warc boilerplate navigation header menu "
                  "links copyright"),
            F.col("text"),
            F.lit("footer"), F.col("lang"),
            F.lit("contact about privacy terms sitemap rss feed"),
        ).alias("body"),
    )
    return duplicate_span_removal(body, "doc_id", "body",
                                  n=8).transform(_srt("doc_id"))


_DUP_SPAN_SQL = r"""
WITH base AS (
  SELECT doc_id AS id,
         regexp_split_to_array(trim(
           'shared warc boilerplate navigation header menu links copyright '
           || text || ' footer ' || lang
           || ' contact about privacy terms sitemap rss feed'), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT id, i AS pos,
         ('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')),
                         1, 15))::BIGINT AS h
  FROM base, UNNEST(range(0, len(t) - 8 + 1)) AS u(i)
  WHERE len(t) >= 8
),
dup AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT id) AS nd FROM grams GROUP BY h
  ) WHERE nd >= 2
),
starts AS (
  SELECT id, list_sort(list(pos)) AS st
  FROM grams JOIN dup USING (h) GROUP BY id
),
j AS (
  SELECT b.id, b.t, COALESCE(s.st, CAST([] AS BIGINT[])) AS st
  FROM base b LEFT JOIN starts s ON b.id = s.id
)
SELECT id AS doc_id,
       len(t) AS n_words,
       len(st) AS n_dup_starts,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(0, len(t)),
             i -> len(list_filter(st, s -> s <= i AND i <= s + 7)) = 0),
           i -> t[i + 1]),
         ' '), '') AS text_clean
FROM j ORDER BY doc_id
"""


def _char_span_removal(spark, sf):
    """CHARACTER-level exact-substring dedup (Lee et al. 2022
    semantics, the round-3 verdict's remaining delta on
    dup_span_removal): injected boilerplate is punctuation-laced and
    word-boundary-hostile (URLs, em-dashes, '::'), so only a char-range
    method dedups it fully. Windows of 40 chars occurring in ≥2 docs
    are removed everywhere; masking folds sorted starts into disjoint
    intervals (O(starts)) and splices the gaps — no per-char scan, no
    window function, no second explode."""
    from lexoid_spark.functions.curation import char_span_removal

    docs = _tp(spark, sf, "documents")
    body = docs.select(
        "doc_id",
        F.concat(
            F.lit("© lexoid-crawl.example/nav?id=1&s=2 | "
                  "header—menu::links; "),
            F.col("text"),
            F.lit(" [footer:"), F.col("lang"),
            F.lit("] contact/about/privacy—sitemap.rss"),
        ).alias("body"),
    )
    return char_span_removal(body, "doc_id", "body", w=40).transform(_srt("doc_id"))


_CHAR_SPAN_SQL = """
WITH base AS (
  SELECT doc_id AS id,
         '© lexoid-crawl.example/nav?id=1&s=2 | header—menu::links; '
         || text || ' [footer:' || lang
         || '] contact/about/privacy—sitemap.rss' AS txt
  FROM documents
),
wins AS (
  SELECT id, i AS pos, substr(txt, CAST(i + 1 AS BIGINT), 40) AS g
  FROM base, UNNEST(range(0, length(txt) - 40 + 1)) AS u(i)
  WHERE length(txt) >= 40
),
dup AS (
  SELECT g FROM (
    SELECT g, count(DISTINCT id) AS nd FROM wins GROUP BY g
  ) WHERE nd >= 2
),
starts AS (
  SELECT id, list_sort(list(pos)) AS st
  FROM wins JOIN dup USING (g) GROUP BY id
),
j AS (
  SELECT b.id, b.txt, COALESCE(s.st, CAST([] AS BIGINT[])) AS st
  FROM base b LEFT JOIN starts s ON b.id = s.id
)
SELECT id AS doc_id,
       CAST(length(txt) AS INT) AS n_chars,
       CAST(len(st) AS INT) AS n_dup_starts,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(0, length(txt)),
             i -> len(list_filter(st, s -> s <= i AND i <= s + 39)) = 0),
           i -> substr(txt, CAST(i + 1 AS BIGINT), 1)),
         ''), '') AS text_clean
FROM j ORDER BY doc_id
"""


def _char_span_winnow(spark, sf):
    """Winnowing-sampled char-span dedup (Schleimer et al. 2003) —
    char_span_removal's scale path: only the rightmost-minimal window
    hash of every k-run is fingerprinted, so the per-char explode
    drops to ~2/(k+1) density while every duplicated span >= w+k-1
    chars is still detected (the winnowing theorem). Same injected
    boilerplate as char_span_removal so the two variants' removal
    behavior is directly comparable; the DuckDB mirror recomputes the
    double 32-bit polynomial window hashes (Horner mod 2^32 over the
    codepoints, HUGEINT arithmetic — integer-exact on both engines)
    AND the rightmost-argmin selection exactly (1-based lambda index
    there, 0-based here)."""
    from lexoid_spark.functions.curation import char_span_removal_winnow

    docs = _tp(spark, sf, "documents")
    body = docs.select(
        "doc_id",
        F.concat(
            F.lit("© lexoid-crawl.example/nav?id=1&s=2 | "
                  "header—menu::links; "),
            F.col("text"),
            F.lit(" [footer:"), F.col("lang"),
            F.lit("] contact/about/privacy—sitemap.rss"),
        ).alias("body"),
    )
    return char_span_removal_winnow(
        body, "doc_id", "body", w=40, k=8).transform(_srt("doc_id"))


_CHAR_WINNOW_SQL = """
WITH base AS (
  SELECT doc_id AS id,
         '© lexoid-crawl.example/nav?id=1&s=2 | header—menu::links; '
         || text || ' [footer:' || lang
         || '] contact/about/privacy—sitemap.rss' AS txt
  FROM documents
),
cps AS (
  SELECT id, txt,
         list_transform(range(1, length(txt) + 1),
           i -> CAST(unicode(substr(txt, CAST(i AS BIGINT), 1))
                AS HUGEINT)) AS c
  FROM base
),
h AS (
  SELECT id, txt,
         CASE WHEN length(txt) >= 40 THEN
           list_transform(range(0, length(txt) - 40 + 1),
             i -> CAST(
               ((list_reduce(
                    c[CAST(i + 1 AS BIGINT):CAST(i + 40 AS BIGINT)],
                    (a, x) -> (a * 1000003 + x) % 4294967296)
                 % 2147483648) * 4294967296)
               + list_reduce(
                    c[CAST(i + 1 AS BIGINT):CAST(i + 40 AS BIGINT)],
                    (a, x) -> (a * 999983 + x) % 4294967296)
             AS BIGINT))
         ELSE CAST([] AS BIGINT[]) END AS hs
  FROM cps
),
selpos AS (
  SELECT id, hs,
         CASE WHEN length(txt) >= 47 THEN
           list_distinct(list_transform(range(0, len(hs) - 8 + 1),
             t -> t + list_max(list_transform(hs[CAST(t + 1 AS BIGINT):CAST(t + 8 AS BIGINT)],
                    (x, i) -> CASE WHEN x = list_min(
                        hs[CAST(t + 1 AS BIGINT):CAST(t + 8 AS BIGINT)])
                      THEN i ELSE 0 END)) - 1))
         ELSE CAST([] AS BIGINT[]) END AS sel
  FROM h
),
fps AS (
  SELECT id, CAST(u.p AS BIGINT) AS pos,
         hs[CAST(u.p + 1 AS BIGINT)] AS hv
  FROM selpos, UNNEST(sel) AS u(p)
),
dup AS (
  SELECT hv FROM (
    SELECT hv, count(DISTINCT id) AS nd FROM fps GROUP BY hv
  ) WHERE nd >= 2
),
starts AS (
  SELECT id, list_sort(list(pos)) AS st
  FROM fps JOIN dup USING (hv) GROUP BY id
),
j AS (
  SELECT b.id, b.txt, COALESCE(s.st, CAST([] AS BIGINT[])) AS st
  FROM base b LEFT JOIN starts s ON b.id = s.id
)
SELECT id AS doc_id,
       CAST(length(txt) AS INT) AS n_chars,
       CAST(len(st) AS INT) AS n_dup_starts,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(0, length(txt)),
             i -> len(list_filter(st, s -> s <= i AND i <= s + 39)) = 0),
           i -> substr(txt, CAST(i + 1 AS BIGINT), 1)),
         ''), '') AS text_clean
FROM j ORDER BY doc_id
"""


def _tfidf_topk(spark, sf):
    """Top-5 characteristic terms per doc by exact-integer tf-idf
    (tf * ((N*10^6) div df)) — no float logs, rank ties broken (score
    desc, term asc) identically on both engines."""
    from lexoid_spark.functions.textstats import tfidf_topk

    docs = _t(spark, sf, "documents")
    return tfidf_topk(docs, "doc_id", "text", k=5).transform(_srt(
        "doc_id", "rank"
    ))


_TFIDF_SQL = r"""
WITH words AS (
  SELECT doc_id AS id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT id, w, count(*) AS tf FROM words GROUP BY id, w),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT id AS doc_id, w AS term, tf, df, score_micros, rank FROM (
  SELECT t.id, t.w, t.tf, d.df,
         t.tf * ((n.n * 1000000) // d.df) AS score_micros,
         ROW_NUMBER() OVER (
           PARTITION BY t.id
           ORDER BY t.tf * ((n.n * 1000000) // d.df) DESC, t.w ASC
         ) AS rank
  FROM tf t JOIN dfreq d ON t.w = d.w CROSS JOIN n
) WHERE rank <= 5 ORDER BY doc_id, rank
"""


def _inverted_postings(spark, sf):
    """Inverted-index build: term -> exact df + first 20 sorted doc
    ids (comma-joined for engine-identical hashing). The cap bounds
    stop-word posting rows; df stays exact via map-side combine."""
    from lexoid_spark.functions.textstats import inverted_postings

    docs = _t(spark, sf, "documents")
    return inverted_postings(docs, "doc_id", "text",
                             max_postings=20).transform(_srt("term"))


_INVERTED_SQL = r"""
WITH pairs AS (
  SELECT DISTINCT doc_id AS id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
)
SELECT w AS term, count(*) AS df,
       array_to_string(list_sort(list(id))[1:20], ',') AS postings
FROM pairs GROUP BY w ORDER BY term
"""


def _warc_ingest(spark, sf):
    """Common-Crawl-shaped ingestion round trip: per-source WARC
    archives are framed natively (Content-Length in BYTES via
    octet_length, HTTP response envelope included), then the WARC
    kernel explodes each blob back into records with the envelope
    stripped — one mapInPandas, map-only, quarantine-not-fail. The
    oracle recomputes every record's url/index/byte-count straight
    from the documents table."""
    from lexoid_spark.sources.warc import read_warc_blobs

    docs = _tp(spark, sf, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    html = F.concat(F.lit("<html><body>"), F.col("text"),
                    F.lit("</body></html>"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html,
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"), http, F.lit("\r\n\r\n"),
    )
    blobs = (
        docs.select("source", F.struct("doc_id", rec.alias("rec")).alias("s"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s["rec"]),
                "",
            ).alias("blob_str")
        )
        .select(
            F.regexp_extract("source", r"(\d+)", 1).cast("long").alias("id"),
            F.encode("blob_str", "UTF-8").alias("data"),
        )
    )
    out = read_warc_blobs(blobs, "id", "data", strip_http=True)
    return out.select(
        "url", "rec_idx", "warc_type", "warc_date", "n_bytes", "error"
    ).transform(_srt("url"))


_WARC_INGEST_SQL = """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
            - 1 AS INT) AS rec_idx,
       'response' AS warc_type,
       '2024-01-01T00:00:00Z' AS warc_date,
       octet_length(encode('<html><body>' || text || '</body></html>'))
         AS n_bytes,
       CAST(NULL AS VARCHAR) AS error
FROM documents ORDER BY url
"""


def _wet_roundtrip(spark, sf):
    """WET emission + re-ingest (the Common-Crawl OUTPUT format):
    extracted text serializes to WARC ``conversion`` records in
    per-record gzip members via write_wet_blobs (one md5-shard
    shuffle, deterministic url order per shard), then the ordinary
    read arm explodes the blobs back. A hash match proves the writer
    and reader agree byte-for-byte on framing, member gzip and UTF-8
    payloads — the full crawl-ecosystem roundtrip inside one plan."""
    from lexoid_spark.sources.warc import read_warc_blobs, write_wet_blobs

    docs = _tp(spark, sf, "documents")
    rows = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("2024-03-"),
                 F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                 F.lit("T00:00:00Z")).alias("warc_date"),
        F.col("text"),
    )
    wet = write_wet_blobs(rows, n_shards=8, gz=True)
    back = read_warc_blobs(
        wet.select(F.col("shard").cast("long").alias("id"),
                   F.col("wet").alias("data")))
    return back.select(
        "url", "warc_type", "warc_date",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    ).transform(_srt("url"))


_WET_ROUNDTRIP_SQL = """
SELECT 'https://' || source || '.example.com/doc/'
       || CAST(doc_id AS VARCHAR) AS url,
       'conversion' AS warc_type,
       '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       || 'T00:00:00Z' AS warc_date,
       text
FROM documents ORDER BY url
"""


def _warc_gz_ingest(spark, sf):
    """The ACTUAL Common-Crawl archive layout: ``.warc.gz`` blobs made
    of one gzip member PER RECORD (RFC 1952 member concatenation, so
    readers can seek+inflate a single record), exploded by the same
    map-only WARC seam — the kernel sniffs the gzip magic and inflates
    members under a zip-bomb cap before framing. Same closed-form
    record set as ``warc_ingest`` on a 1-in-3 doc subset, so the
    oracle recomputes url/index/byte-count straight from the documents
    table; hostile/truncated members quarantine typed (pinned in
    tests/test_warc.py)."""
    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.kernels.warc import build_record
    from lexoid_spark.sources.warc import read_warc_blobs

    def gz_blob(recs) -> bytes:
        return b"".join(
            build_record("response", r["url"], "2024-01-01T00:00:00Z",
                         r["http"].encode(), gz=True)
            for r in recs)

    docs = _tp(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0)
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        F.lit("<html><body>"), F.col("text"), F.lit("</body></html>"),
    )
    blobs = (
        docs.select("source",
                    F.struct(F.col("doc_id"), url.alias("url"),
                             http.alias("http")).alias("s"))
        .groupBy("source")
        .agg(F.transform(
            F.array_sort(F.collect_list("s")),
            lambda s: F.struct(s["url"].alias("url"),
                               s["http"].alias("http")),
        ).alias("recs"))
        .select(
            F.regexp_extract("source", r"(\d+)", 1).cast("long")
            .alias("id"),
            row_udf(gz_blob, "binary")("recs").alias("data"),
        )
    )
    out = read_warc_blobs(blobs, "id", "data", strip_http=True)
    return out.select(
        "url", "rec_idx", "warc_type", "warc_date", "n_bytes", "error"
    ).transform(_srt("url"))


_WARC_GZ_INGEST_SQL = """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
            - 1 AS INT) AS rec_idx,
       'response' AS warc_type,
       '2024-01-01T00:00:00Z' AS warc_date,
       octet_length(encode('<html><body>' || text || '</body></html>'))
         AS n_bytes,
       CAST(NULL AS VARCHAR) AS error
FROM documents WHERE doc_id % 3 = 0 ORDER BY url
"""


def _robots_check(spark, sf):
    """RFC 9309 crawl-permission check, fully relational: per-host
    robots.txt (a specific lexoidbot group with a digit-prefix
    Disallow + a longer Allow carve-out, plus a blanket wildcard
    group the named bot must IGNORE) is parsed with the lag/running-sum
    window grouping and enforced via the longest-match max(struct)
    aggregation. The oracle predicts every decision closed-form from
    the digit arithmetic — parser and enforcer both checked."""
    from lexoid_spark.operators.robots import crawl_allowed

    docs = _t(spark, sf, "documents")
    k = F.regexp_extract("source", r"(\d+)", 1).cast("long") % 10
    robots = docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("# synthetic robots\nUser-agent: lexoidbot\n"
                  "Disallow: /doc/"),
            k.cast("string"),
            F.lit("\nAllow: /doc/"),
            k.cast("string"), k.cast("string"),
            F.lit("\n\nUser-agent: *\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    urls = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url")
    )
    return crawl_allowed(urls, robots,
                         agent="lexoidbot").transform(_srt("url"))


_ROBOTS_CHECK_SQL = r"""
WITH u AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         source || '.example.com' AS host,
         '/doc/' || doc_id AS path,
         CAST(doc_id AS VARCHAR) AS ds,
         CAST(CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 10
              AS VARCHAR) AS k
  FROM documents
)
SELECT url, host, path,
       CASE WHEN starts_with(ds, k || k) THEN TRUE
            WHEN starts_with(ds, k) THEN FALSE
            ELSE TRUE END AS allowed,
       CASE WHEN starts_with(ds, k || k) THEN '/doc/' || k || k
            WHEN starts_with(ds, k) THEN '/doc/' || k
            ELSE NULL END AS matched_rule,
       CASE WHEN starts_with(ds, k || k) THEN 'allow'
            WHEN starts_with(ds, k) THEN 'disallow'
            ELSE NULL END AS matched_type
FROM u ORDER BY url
"""


def _sitemap_frontier(spark, sf):
    """Crawl-seed composition: per-host sitemap.xml (every doc url,
    lastmod only for even ids) parsed natively, intersected with the
    robots_check permission rules — the frontier a polite crawler may
    actually fetch. The oracle predicts the surviving set closed-form
    from the same digit arithmetic."""
    from lexoid_spark.operators.robots import sitemap_frontier

    docs = _t(spark, sf, "documents")
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        F.lit("</loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<lastmod>2024-01-"),
                     F.lpad((F.col("doc_id") % 28 + 1).cast("string"),
                            2, "0"),
                     F.lit("</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        docs.select("source", F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("s")),
                                lambda s: s["e"]), ""),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            "sitemap_xml",
        )
    )
    k = F.regexp_extract("source", r"(\d+)", 1).cast("long") % 10
    robots = docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("User-agent: lexoidbot\nDisallow: /doc/"),
            k.cast("string"),
            F.lit("\nAllow: /doc/"), k.cast("string"), k.cast("string"),
            F.lit("\n\nUser-agent: *\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    return sitemap_frontier(sitemaps, robots,
                            agent="lexoidbot").transform(_srt("url"))


def _html_head_meta(spark, sf):
    """Crawl-curation head metadata: canonical URL (the site's own
    dedup key), og:title, robots meta with the noindex exclusion
    flag, and the declared lang — one zero-shuffle struct of anchored
    regexp_extract fields. Canonical attribute order rotates on doc
    parity (rel-then-href vs href-then-rel) so both match arms are
    pinned; every third doc declares noindex. Closed-form per doc."""
    from lexoid_spark.functions.columns import html_head_meta

    docs = _t(spark, sf, "documents")
    canon_url = F.concat(F.lit("https://"), F.col("source"),
                         F.lit(".example.com/c/"),
                         F.col("doc_id").cast("string"))
    link = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<link rel="canonical" href="'), canon_url,
                 F.lit('">')),
    ).otherwise(
        F.concat(F.lit('<link href="'), canon_url,
                 F.lit('" rel="canonical">')),
    )
    robots = F.when(F.col("doc_id") % 3 == 0,
                    F.lit("noindex,follow")).otherwise(F.lit("index"))
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head>'), link,
        F.lit('<meta property="og:title" content="Doc '),
        F.col("doc_id").cast("string"), F.lit('">'),
        F.lit('<meta name="robots" content="'), robots, F.lit('">'),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    m = html_head_meta(html)
    return docs.select(
        "doc_id",
        m["canonical"].alias("canonical"),
        m["og_title"].alias("og_title"),
        m["meta_robots"].alias("meta_robots"),
        m["noindex"].alias("noindex"),
        m["lang"].alias("page_lang"),
    ).transform(_srt("doc_id"))


_HTML_HEAD_META_SQL = """
SELECT doc_id,
       'https://' || source || '.example.com/c/'
       || CAST(doc_id AS VARCHAR) AS canonical,
       'Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
       CASE WHEN doc_id % 3 = 0 THEN 'noindex,follow'
            ELSE 'index' END AS meta_robots,
       doc_id % 3 = 0 AS noindex,
       lang AS page_lang
FROM documents ORDER BY doc_id
"""


def _html_jsonld(spark, sf):
    """schema.org JSON-LD mining: the ld+json script block extracts
    with one anchored regexp (zero shuffle), then field access runs
    through the native JSON path evaluator (F.get_json_object — no
    Python). Every value is closed-form in the doc row, so DuckDB
    predicts headline/type/wordCount without JSON functions at all."""
    from lexoid_spark.functions.columns import html_jsonld

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@type": "Article", "headline": "Doc '),
        F.col("doc_id").cast("string"),
        F.lit('", "wordCount": '), F.col("n_chars").cast("string"),
        F.lit(', "inLanguage": "'), F.col("lang"),
        F.lit('"}</script></head><body><p>x</p></body></html>'),
    )
    block = html_jsonld(html)
    return docs.select(
        "doc_id",
        F.get_json_object(block, "$.headline").alias("headline"),
        F.get_json_object(block, "$['@type']").alias("ld_type"),
        F.get_json_object(block, "$.wordCount").cast("long")
        .alias("word_count"),
        F.get_json_object(block, "$.inLanguage").alias("in_language"),
    ).transform(_srt("doc_id"))


_HTML_JSONLD_SQL = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS headline,
       'Article' AS ld_type,
       CAST(n_chars AS BIGINT) AS word_count,
       lang AS in_language
FROM documents ORDER BY doc_id
"""


def _feed_discovery(spark, sf):
    """Feed-based discovery (the freshness channel next to sitemaps):
    even docs publish RSS 2.0 (``<item><link>text</link>``), odd docs
    Atom (``<entry><link href="..."/>``); one zero-shuffle block
    split + anchored regexp per convention, unioned. Closed-form per
    doc, so DuckDB predicts every (host, url, title) row."""
    from lexoid_spark.operators.robots import parse_feed

    docs = _t(spark, sf, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/post/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Post "), F.col("doc_id").cast("string"))
    rss = F.concat(
        F.lit("<rss><channel><item><title>"), title,
        F.lit("</title><link>"), url,
        F.lit("</link></item></channel></rss>"))
    atom = F.concat(
        F.lit('<feed><entry><title>'), title,
        F.lit('</title><link rel="alternate" href="'), url,
        F.lit('"/></entry></feed>'))
    feeds = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom)
        .alias("feed_xml"),
    )
    return parse_feed(feeds).transform(_srt("url"))


_FEED_DISCOVERY_SQL = """
SELECT source || '.example.com' AS host,
       'https://' || source || '.example.com/post/'
       || CAST(doc_id AS VARCHAR) AS url,
       'Post ' || CAST(doc_id AS VARCHAR) AS title
FROM documents ORDER BY url
"""


def _sitemap_index_parse(spark, sf):
    """``<sitemapindex>`` (the outer discovery level): per doc an
    index naming two child sitemaps, lastmod only on the first —
    parsed by the same zero-shuffle block splitter. Closed-form."""
    from lexoid_spark.operators.robots import parse_sitemap_index

    docs = _t(spark, sf, "documents")
    child = F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/sitemap-"),
                     F.col("doc_id").cast("string"))
    xml = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"), child,
        F.lit("-a.xml.gz</loc><lastmod>2024-02-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("</lastmod></sitemap><sitemap><loc>"), child,
        F.lit("-b.xml.gz</loc></sitemap></sitemapindex>"),
    )
    idx = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        xml.alias("index_xml"),
    )
    return parse_sitemap_index(idx).transform(_srt("sitemap_url"))


_SITEMAP_INDEX_SQL = """
SELECT host, sitemap_url, lastmod FROM (
  SELECT source || '.example.com' AS host,
         'https://' || source || '.example.com/sitemap-'
         || CAST(doc_id AS VARCHAR) || '-a.xml.gz' AS sitemap_url,
         '2024-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod
  FROM documents
  UNION ALL
  SELECT source || '.example.com',
         'https://' || source || '.example.com/sitemap-'
         || CAST(doc_id AS VARCHAR) || '-b.xml.gz',
         NULL
  FROM documents
) ORDER BY sitemap_url
"""


def _sitemap_gz_parse(spark, sf):
    """Sitemap ingestion AS STORED: per-host ``sitemap.xml.gz``
    members (the layout the sitemaps protocol prescribes for large
    sites) gunzip through the WARC kernel's bounded inflater, decode
    and parse with the zero-shuffle block splitter
    (operators/robots.py::parse_sitemap_bytes). Same closed-form
    document set as sitemap_frontier, so DuckDB predicts every (host,
    url, lastmod) row without modeling gzip at all."""
    import zlib

    from lexoid_spark.functions.udfs import row_udf
    from lexoid_spark.operators.robots import parse_sitemap_bytes

    def gz(xml: str) -> bytes:
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        return c.compress(xml.encode()) + c.flush()

    docs = _t(spark, sf, "documents")
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        F.lit("</loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<lastmod>2024-01-"),
                     F.lpad((F.col("doc_id") % 28 + 1).cast("string"),
                            2, "0"),
                     F.lit("</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        docs.select("source", F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("s")),
                                lambda s: s["e"]), ""),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            row_udf(gz, "binary")("sitemap_xml").alias("sitemap_blob"),
        )
    )
    return parse_sitemap_bytes(sitemaps).transform(_srt("url"))


_SITEMAP_GZ_PARSE_SQL = r"""
SELECT host, url, lastmod FROM (
  SELECT source || '.example.com' AS host,
         'https://' || source || '.example.com/doc/'
         || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 2 = 0
              THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0')
              ELSE NULL END AS lastmod
  FROM documents
) ORDER BY url
"""


_SITEMAP_FRONTIER_SQL = r"""
SELECT url, host, lastmod FROM (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         source || '.example.com' AS host,
         CASE WHEN doc_id % 2 = 0
              THEN '2024-01-'
                   || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         END AS lastmod,
         CAST(doc_id AS VARCHAR) AS ds,
         CAST(CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 10
              AS VARCHAR) AS k
  FROM documents
)
WHERE NOT (starts_with(ds, k) AND NOT starts_with(ds, k || k))
ORDER BY url
"""


def _crawl_schedule(spark, sf):
    """Politeness scheduling: per-host Crawl-delay (specific-agent
    group = digit+1 seconds, wildcard = 9 — the named bot must get
    the specific value) ranked into a deterministic fetch plan with
    exact integer offsets. The oracle recomputes delay and rank
    closed-form."""
    from lexoid_spark.operators.robots import crawl_schedule

    docs = _t(spark, sf, "documents")
    k = F.regexp_extract("source", r"(\d+)", 1).cast("long") % 10
    robots = docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("User-agent: lexoidbot\nCrawl-delay: "),
            (k + 1).cast("string"),
            F.lit("\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 9\n"),
        ).alias("robots_txt"),
    )
    urls = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url")
    )
    return crawl_schedule(urls, robots, agent="lexoidbot",
                          default_delay_s=1).transform(_srt("url"))


_CRAWL_SCHEDULE_SQL = r"""
WITH u AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
         source || '.example.com' AS host,
         CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 10 + 1
           AS delay_s
  FROM documents
),
r AS (
  SELECT url, host, delay_s,
         ROW_NUMBER() OVER (
           PARTITION BY host
           ORDER BY ('0x' || substr(md5(url), 1, 15))::BIGINT ASC,
                    url ASC) AS fetch_rank
  FROM u
)
SELECT url, host, delay_s, fetch_rank,
       (fetch_rank - 1) * delay_s AS offset_s
FROM r ORDER BY url
"""


def _corpus_diff(spark, sf):
    """Release-to-release corpus diff: v2 is derived deterministically
    (doc_id%97==0 removed, %13==0 edited, ids+100000 added), then a
    full outer join on id + md5 compare classifies every row as
    added / removed / changed / unchanged — the audit table a corpus
    release ships next to its data."""
    docs = _t(spark, sf, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h1"))
    v2_base = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(F.col("doc_id") % 13 == 0,
                       F.concat(F.col("text"), F.lit(" [edited]")))
                .otherwise(F.col("text"))
            ).alias("h2"),
        )
    )
    v2_new = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.md5(F.concat(F.lit("new "), F.col("text"))).alias("h2"),
    ).filter(F.col("doc_id") % 3 == 0)
    v2 = v2_base.unionByName(v2_new)
    return (
        v1.join(v2, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("h1").isNull(), "added")
            .when(F.col("h2").isNull(), "removed")
            .when(F.col("h1") != F.col("h2"), "changed")
            .otherwise("unchanged").alias("status"),
        )
        .transform(_srt("doc_id"))
    )


_CORPUS_DIFF_SQL = """
WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]'
                  ELSE text END) AS h2
  FROM documents WHERE doc_id % 97 != 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, md5('new ' || text) AS h2
  FROM documents WHERE (doc_id + 100000) % 3 = 0
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.h1 IS NULL THEN 'added'
            WHEN v2.h2 IS NULL THEN 'removed'
            WHEN v1.h1 != v2.h2 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
ORDER BY doc_id
"""


def _langid_confusion(spark, sf):
    """Language-ID evaluation: predicted vs labeled language counts —
    the confusion matrix that tells you whether the n-gram heuristic
    is safe to gate on. Uses the bulk one-pass ``langid_table`` (the
    scalar when-chain re-tokenizes ~35x per row — its own docstring's
    measured trap), joined back to the label before one map-side-
    combinable aggregation."""
    from lexoid_spark.functions.textstats import langid_table

    docs = _t(spark, sf, "documents")
    pred = langid_table(docs, "doc_id", "text")
    return (
        docs.select(F.col("doc_id").alias("id"), "lang")
        .join(pred, "id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .transform(_srt("lang", "lang_pred"))
    )


_LANGID_CONFUSION_SQL = r"""
WITH c AS (
  SELECT lang,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    t -> t = 'the')) AS c_en,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    t -> t = 'der')) AS c_de,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    t -> t = 'le'))  AS c_fr,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    t -> t = 'el'))  AS c_es,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                    t -> t = 'ka'))  AS c_hi
  FROM documents
),
pred AS (
  SELECT lang,
    CASE
      WHEN c_en = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_en > 0
        THEN 'en'
      WHEN c_de = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_de > 0
        THEN 'de'
      WHEN c_fr = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_fr > 0
        THEN 'fr'
      WHEN c_es = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_es > 0
        THEN 'es'
      WHEN c_hi = GREATEST(c_en, c_de, c_fr, c_es, c_hi) AND c_hi > 0
        THEN 'hi'
      ELSE 'und'
    END AS lang_pred
  FROM c
)
SELECT lang, lang_pred, count(*) AS n
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


def _train_val_split(spark, sf):
    """Deterministic hash-based train/val/test assignment (90/5/5 by
    md5 bucket, salt ':split') — the standard leak-proof corpus split:
    stable across runs and engines, zero shuffle (pure projection)."""
    docs = _t(spark, sf, "documents")
    b = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":split"))), 1, 15),
        16, 10,
    ).cast("long") % 100
    return docs.select(
        "doc_id", "lang",
        F.when(b < 90, "train").when(b < 95, "val")
        .otherwise("test").alias("split"),
    ).transform(_srt("doc_id"))


_TRAIN_VAL_SPLIT_SQL = """
SELECT doc_id, lang,
       CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                         1, 15))::BIGINT % 100 AS b
  FROM documents
) ORDER BY doc_id
"""


def _corpus_report(spark, sf):
    """The per-language release report a corpus ships with: doc count,
    exact token totals, half-up mean tokens/doc, and how many docs
    clear the structural vs strict Gopher gates — one map-side
    combinable aggregation over flags computed in the scan."""
    from lexoid_spark.functions.textstats import (
        gopher_quality_flags,
        token_count,
    )

    docs = _tp(spark, sf, "documents")
    g = gopher_quality_flags(F.col("text"))
    per = docs.select(
        "lang",
        token_count("text").alias("nt"),
        g.getField("passes").cast("int").alias("p"),
        g.getField("passes_strict").cast("int").alias("ps"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("sum_tokens"),
            F.sum("p").alias("n_pass"),
            F.sum("ps").alias("n_pass_strict"),
        )
        .withColumn(
            "mean_tokens",
            F.expr("(2 * sum_tokens * 1000000 + n_docs) div (2 * n_docs)")
            / F.lit(1000000.0),
        )
        .transform(_srt("lang"))
    )


_CORPUS_REPORT_SQL = rf"""
WITH g AS ({_GOPHER_SQL.strip().rstrip()}),
per AS (
  SELECT d.lang,
         CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\s+'))
         END AS nt,
         CASE WHEN g.passes THEN 1 ELSE 0 END AS p,
         CASE WHEN g.passes_strict THEN 1 ELSE 0 END AS ps
  FROM documents d JOIN g ON d.doc_id = g.doc_id
)
SELECT lang, count(*) AS n_docs, SUM(nt) AS sum_tokens,
       SUM(p) AS n_pass, SUM(ps) AS n_pass_strict,
       ((2 * SUM(nt) * 1000000 + count(*)) // (2 * count(*)))
         / 1000000.0 AS mean_tokens
FROM per GROUP BY lang ORDER BY lang
"""


def _phrase_merges(spark, sf):
    """Word-level BPE training loop: 6 corpus-wide merge iterations
    (count adjacent pairs map-side-combinably, collect ONE top-pair
    row, broadcast it back, rewrite via ONE greedy regex scan —
    self pairs included, pairing runs non-overlapping left-to-right
    like sequential BPE). The working frame is localCheckpoint-ed
    every 2 merges so plan lineage stays bounded at any merge count
    (the 30k-merge shape). The oracle replays the identical 6 stages
    in SQL with a run-parity mark equal to the fold."""
    from lexoid_spark.functions.tokenizer import phrase_merges

    docs = _t(spark, sf, "documents")
    # checkpoint_every=0: the per-step lazy persist inside
    # phrase_merges already bounds recompute to one rewrite layer and
    # merges materialization into the pair-count jobs (6 jobs instead
    # of 12); plan depth at 6 merges never needs the lineage
    # truncation a 30k-merge run would re-enable via checkpoint_every
    return phrase_merges(docs, "doc_id", "text", n_merges=6,
                         checkpoint_every=0).transform(_srt("doc_id"))


def _phrase_sql(n_merges: int = 6, sample_mod: int = 0) -> str:
    # samp marks the deterministic training subsample (md5-prefix
    # bigint of the id — the portable hash); pair counts read only
    # sampled rows, rewrites apply to every row. sample_mod=0 trains
    # on the full corpus (samp always true).
    samp = ("TRUE" if sample_mod < 2 else
            f"(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
            f"::BIGINT % {sample_mod}) = 0")
    head = rf"""
WITH t0 AS (
  SELECT doc_id AS id, {samp} AS samp,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t
  FROM documents
)"""
    stages = []
    for s in range(1, n_merges + 1):
        p = s - 1
        # A position i STARTS a merge iff (t[i], t[i+1]) == (a, b) and,
        # for self pairs (a == b), i sits at an EVEN offset within its
        # maximal run of a's — the parity mark that equals the greedy
        # left-to-right scan (Spark side: the regex replace-all). Run
        # start is recovered per position as 1 + the last j < i with
        # t[j] != a.
        start = (f"""i <= len(t) - 1 AND t[i] = m{s}.a
               AND t[i+1] = m{s}.b
               AND (m{s}.a != m{s}.b OR
                    (i - COALESCE(list_max(list_filter(range(1, i),
                         j -> t[j] != m{s}.a)), 0)) % 2 = 1)""")
        stages.append(f""",
p{s} AS (
  SELECT t[i] AS a, t[i+1] AS b, count(*) AS c
  FROM t{p}, UNNEST(range(1, len(t))) AS u(i)
  WHERE samp
  GROUP BY 1, 2
),
m{s} AS (SELECT a, b, a || '_' || b AS mm FROM p{s}
         ORDER BY c DESC, a ASC, b ASC LIMIT 1),
t{s} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: a merge round that learns
  -- nothing (m{s} empty) must be a NO-OP, mirroring the Spark
  -- loop's early break — a cross join would empty every later stage
  SELECT id, samp,
    list_transform(
      list_filter(range(1, len(t) + 1),
        i -> i = 1 OR m{s}.a IS NULL
             OR NOT (i - 1 <= len(t) - 1 AND t[i-1] = m{s}.a
                     AND t[i] = m{s}.b
                     AND (m{s}.a != m{s}.b OR
                          ((i - 1) - COALESCE(list_max(
                               list_filter(range(1, i - 1),
                                   j -> t[j] != m{s}.a)), 0)) % 2 = 1))),
      i -> CASE WHEN m{s}.a IS NOT NULL AND {start}
                THEN m{s}.mm ELSE t[i] END) AS t
  FROM t{p} LEFT JOIN m{s} ON TRUE
)""")
    tail = f"""
SELECT b.id AS doc_id, len(b.t) AS n_tokens_in,
       len(f.t) AS n_tokens_out,
       COALESCE(array_to_string(f.t, ' '), '') AS text_merged
FROM t0 b JOIN t{n_merges} f ON b.id = f.id ORDER BY doc_id
"""
    return head + "".join(stages) + tail


_PHRASE_MERGES_SQL = _phrase_sql()


def _phrase_merges_sampled(spark, sf):
    """The 100-TB shape of the BPE trainer (the round-4 verdict's
    honesty note on phrase_merges: a real tokenizer trainer samples):
    merges are learned from the deterministic 1/4 md5-hash document
    subsample — the iterated pair-count passes never touch the other
    3/4 — then ALL learned merges are applied to the FULL corpus in
    one fused chain of greedy regex scans (composition is safe on the
    double-space encoding: each rewrite consumes one boundary space a
    side and re-emits it). The oracle replays the identical stages
    with pair counts filtered to the same hash subsample."""
    from lexoid_spark.functions.tokenizer import phrase_merges

    docs = _t(spark, sf, "documents")
    return phrase_merges(docs, "doc_id", "text", n_merges=6,
                         checkpoint_every=0,
                         sample_mod=4).transform(_srt("doc_id"))


_PHRASE_MERGES_SAMPLED_SQL = _phrase_sql(sample_mod=4)


def _ccnet_buckets(spark, sf):
    """CCNet's head/middle/tail split: per-language terciles of the
    charlm familiarity score (most-familiar third = head). NTILE(3)
    over (familiarity desc, doc_id asc) is deterministic and mirrors
    engine-for-engine; the window partitions by language over the
    scored aggregate, not raw corpus rows."""
    from pyspark.sql import Window

    from lexoid_spark.functions.curation import charlm_familiarity

    docs = _tp(spark, sf, "documents")
    scored = charlm_familiarity(docs, "doc_id", "text", "lang",
                                top_k=512).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("familiarity"), F.asc("doc_id")
    )
    return (
        scored.withColumn("tercile", F.ntile(3).over(w))
        .select(
            "doc_id", "lang", "familiarity",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail").alias("bucket"),
        )
        .transform(_srt("doc_id"))
    )


_CCNET_BUCKETS_SQL = rf"""
WITH scored AS ({_CHARLM_SQL.strip().rstrip()}),
t AS (
  SELECT s.doc_id, d.lang, s.familiarity,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY s.familiarity DESC, s.doc_id ASC)
           AS tercile
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, lang, familiarity,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM t ORDER BY doc_id
"""


def _anchor_index(spark, sf):
    """Anchor-text index over synthesized markdown links: 50 shared
    targets, anchors varying by (lang, doc_id%5) — each target
    aggregates exact ref/doc counts and a capped sorted-distinct
    anchor list (map-side combinable; link farms stay bounded)."""
    from lexoid_spark.functions.columns import anchor_text_index

    docs = _t(spark, sf, "documents")
    md = F.concat(
        F.lit("intro [go "), F.col("lang"),
        F.lit(" "), (F.col("doc_id") % 5).cast("string"),
        F.lit("](http://t.test/p"), (F.col("doc_id") % 50).cast("string"),
        F.lit(") mid [again "), F.col("lang"),
        F.lit("](http://t.test/p"),
        ((F.col("doc_id") + 7) % 50).cast("string"),
        F.lit(") end"),
    )
    return anchor_text_index(
        docs.select("doc_id", md.alias("md")), "doc_id", "md",
        max_anchors=10,
    ).transform(_srt("url"))


_ANCHOR_INDEX_SQL = """
WITH pairs AS (
  SELECT doc_id,
         'go ' || lang || ' ' || CAST(doc_id % 5 AS VARCHAR) AS anchor,
         'http://t.test/p' || CAST(doc_id % 50 AS VARCHAR) AS url
  FROM documents
  UNION ALL
  SELECT doc_id, 'again ' || lang AS anchor,
         'http://t.test/p' || CAST((doc_id + 7) % 50 AS VARCHAR) AS url
  FROM documents
)
SELECT url, count(*) AS n_refs, count(DISTINCT doc_id) AS n_docs,
       array_to_string(list_sort(list(DISTINCT anchor))[1:10], '|')
         AS anchors
FROM pairs GROUP BY url ORDER BY url
"""


# ---------------------------------------------------------------------------


# name → (builder, DuckDB oracle SQL); queries() and oracle_sql() are
# both derived from this one table, in this order
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "q1_pricing_summary": (_q1, _Q1_SQL),
    "q3_shipping_priority": (_q3, _Q3_SQL),
    "q4_order_priority": (_q4, _Q4_SQL),
    "q5_local_suppliers": (_q5, _Q5_SQL),
    "q6_forecast_revenue": (_q6, _Q6_SQL),
    "q10_returned_items": (_q10, _Q10_SQL),
    "q12_shipmode": (_q12, _Q12_SQL),
    "q14_type_share": (_q14_type_share, _Q14_SQL),
    "q18_large_volume": (_q18, _Q18_SQL),
    "q19_discounted_revenue": (_q19, _Q19_SQL),
    "q7_volume_shipping": (_q7_volume_shipping, _Q7_SQL),
    "q8_market_share": (_q8_market_share, _Q8_SQL),
    "q16_supplier_cnt": (_q16_supplier_cnt, _Q16_SQL),
    "q20_small_part_suppliers": (_q20_small_part_suppliers, _Q20_SQL),
    "q13_customer_distribution": (_q13_customer_distribution, _Q13_SQL),
    "q17_small_quantity_revenue": (_q17_small_quantity_revenue, _Q17_SQL),
    "q21_waiting_supplier": (_q21_waiting_supplier, _Q21_SQL),
    "q22_global_sales_opportunity": (_q22_global_sales_opportunity, _Q22_SQL),
    "top_customers": (_top_customers, _TOP_CUST_SQL),
    "supplier_rank": (_supplier_rank, _SUPPLIER_RANK_SQL),
    "events_daily": (_events_daily, _EVENTS_DAILY_SQL),
    "events_sessions": (_events_sessions, _EVENTS_SESSIONS_SQL),
    "events_json": (_events_json, _EVENTS_JSON_SQL),
    "sessions_closed": (_sessions_closed, _SESSIONS_CLOSED_SQL),
    "docs_by_lang": (_docs_by_lang, _DOCS_BY_LANG_SQL),
    "doc_token_stats": (_doc_token_stats, _DOC_TOKEN_STATS_SQL),
    "doc_bpe_tokens": (_doc_bpe_tokens, _DOC_BPE_SQL),
    "doc_quality": (_doc_quality, _DOC_QUALITY_SQL),
    "doc_langid": (_doc_langid, _DOC_LANGID_SQL),
    "doc_fingerprint": (_doc_fingerprint, _DOC_FINGERPRINT_SQL),
    "doc_winnow": (_doc_winnow, _DOC_WINNOW_SQL),
    "gopher_filters": (_gopher_filters, _GOPHER_SQL),
    "quality_classifier": (_quality_classifier, _QUALITY_CLASSIFIER_SQL),
    "exact_dup_groups": (_exact_dup_groups, _EXACT_DUP_SQL),
    "exact_dedup_keepers": (_exact_dedup_keepers, _EXACT_DEDUP_SQL),
    "events_windowed": (_events_windowed, _EVENTS_WINDOWED_SQL),
    "ngram_jaccard_adjacent": (_ngram_jaccard_adjacent, _NGRAM_JACCARD_SQL),
    "minhash_sample": (_minhash_sample, _MINHASH_SAMPLE_SQL),
    "minhash_band_pairs": (_minhash_band_pairs, _MINHASH_PAIRS_SQL),
    "dup_clusters": (_dup_clusters, _DUP_CLUSTERS_SQL),
    "dedup_keep_list": (_dedup_keep_list, _DEDUP_KEEP_SQL),
    "simhash_pairs": (_simhash_pairs, _SIMHASH_PAIRS_SQL),
    "ann_cosine_topk": (_ann_cosine_topk, _ANN_COSINE_SQL),
    "ann_ivf_topk": (_ann_ivf_topk, _ANN_IVF_SQL),
    "ann_sq8_topk": (_ann_sq8_topk, _ANN_SQ8_SQL),
    "ann_ivfpq_topk": (_ann_ivfpq_topk, _ANN_IVFPQ_SQL),
    "emb_near_dup": (_emb_near_dup, _EMB_NEAR_DUP_SQL),
    "emb_near_dup_hof": (_emb_near_dup_hof, _EMB_NEAR_DUP_SQL),
    "image_meta": (_image_meta, _IMAGE_META_SQL),
    "png_meta": (_png_meta, _PNG_META_SQL),
    "webp_meta": (_webp_meta, _WEBP_META_SQL),
    "mp3_meta": (_mp3_meta, _MP3_META_SQL),
    "png_resize": (_png_resize, _PNG_RESIZE_SQL),
    "png_dialects": (_png_dialects, _PNG_DIALECTS_SQL),
    "jpeg_resize": (_jpeg_resize, _JPEG_RESIZE_SQL),
    "jpeg_progressive": (_jpeg_progressive, _JPEG_PROGRESSIVE_SQL),
    "gif_meta": (_gif_meta, _GIF_META_SQL),
    "jpeg_meta": (_jpeg_meta, _JPEG_META_SQL),
    "wav_meta": (_wav_meta, _WAV_META_SQL),
    "mp4_frames": (_mp4_frames, _MP4_FRAMES_SQL),
    "image_resize": (_image_resize, _IMAGE_RESIZE_SQL),
    "video_frames": (_video_frames, _VIDEO_FRAMES_SQL),
    "video_frame_ocr": (_video_frame_ocr, _VIDEO_FRAME_OCR_SQL),
    "video_mjpeg_ocr": (_video_mjpeg_ocr, _VIDEO_MJPEG_OCR_SQL),
    "avi_mjpeg_ocr": (_avi_mjpeg_ocr, _AVI_MJPEG_OCR_SQL),
    "flac_meta": (_flac_meta, _FLAC_META_SQL),
    "audio_meta": (_audio_meta, _AUDIO_META_SQL),
    "audio_chunks": (_audio_chunks, _AUDIO_CHUNKS_SQL),
    "extract_html_h1": (_extract_html_h1, _EXTRACT_HTML_SQL),
    "html_charset_1252": (_html_charset_1252, _HTML_CHARSET_SQL),
    "epub_extract": (_epub_extract, _EPUB_EXTRACT_SQL),
    "rtf_extract": (_rtf_extract, _RTF_EXTRACT_SQL),
    "extract_html_main": (_extract_html_main, _EXTRACT_HTML_MAIN_SQL),
    "extract_segments_n": (_extract_segments_n, _EXTRACT_SEGMENTS_SQL),
    "email_embed": (_email_embed, _EMAIL_EMBED_SQL),
    "md_url_extract": (_md_url_extract, _MD_URL_SQL),
    "strip_md_roundtrip": (_strip_md_roundtrip, _STRIP_MD_SQL),
    "clean_text_roundtrip": (_clean_text_roundtrip, _CLEAN_TEXT_SQL),
    "crawl_reachable": (_crawl_reachable, _CRAWL_SQL),
    "parse_quality_metrics": (_parse_quality_metrics, _PARSE_QUALITY_SQL),
    "bbox_range_join": (_bbox_range_join, _BBOX_RANGE_JOIN_SQL),
    "low_yield_split": (_low_yield_split, _LOW_YIELD_SQL),
    "quality_by_lang": (_quality_by_lang, _QUALITY_BY_LANG_SQL),
    "pdf_word_boxes": (_pdf_word_boxes, _PDF_WORD_BOXES_SQL),
    "pipeline_extract": (_pipeline_extract, _PIPELINE_EXTRACT_SQL),
    "pdf_flate_extract": (_pdf_flate_extract, _PDF_FLATE_SQL),
    "pdf_rc4_extract": (_pdf_rc4_extract, _PDF_RC4_SQL),
    "pdf_aes_extract": (_pdf_aes_extract, _PDF_AES_SQL),
    "pdf_aes256_extract": (_pdf_aes256_extract, _PDF_AES256_SQL),
    "pdf_filters_extract": (_pdf_filters_extract, _PDF_FILTERS_SQL),
    "bmp_tiff_meta": (_bmp_tiff_meta, _BMP_TIFF_SQL),
    "canonical_urls": (_canonical_urls, _CANONICAL_SQL),
    "pdf_cid_extract": (_pdf_cid_extract, _PDF_CID_SQL),
    "pdf_ucs2_extract": (_pdf_ucs2_extract, _PDF_UCS2_SQL),
    "pdf_cffcid_extract": (_pdf_cffcid_extract, _PDF_CFFCID_SQL),
    "pdf_ttf_extract": (_pdf_ttf_extract, _PDF_TTF_SQL),
    "pdf_cff_extract": (_pdf_cff_extract, _PDF_CFF_SQL),
    "ocr_scanned": (_ocr_scanned, _OCR_SCANNED_SQL),
    "ocr_glyph_scan": (_ocr_glyph_scan, _OCR_GLYPH_SCAN_SQL),
    "ocr_mixed_case": (_ocr_mixed_case, _OCR_MIXED_CASE_SQL),
    "ocr_noise_quarantine": (_ocr_noise_quarantine, _OCR_NOISE_QUARANTINE_SQL),
    "pdf_g3_scan": (_pdf_g3_scan, _PDF_G3_SCAN_SQL),
    "pdf_inline_image": (_pdf_inline_image, _PDF_INLINE_IMAGE_SQL),
    "pdf_type3_extract": (_pdf_type3_extract, _PDF_TYPE3_SQL),
    "pdf_jbig2_scan": (_pdf_jbig2_scan, _PDF_JBIG2_SCAN_SQL),
    "pdf_jpx_scan": (_pdf_jpx_scan, _PDF_JPX_SCAN_SQL),
    "tiff_ocr_scan": (_tiff_ocr_scan, _TIFF_OCR_SCAN_SQL),
    "pdf_ocr_extract": (_pdf_ocr_extract, _PDF_OCR_EXTRACT_SQL),
    "pdf_speed_arm": (_pdf_speed_arm, _PDF_SPEED_SQL),
    "pii_redact_docs": (_pii_redact_docs, _PII_REDACT_SQL),
    "para_dedup": (_para_dedup, _PARA_DEDUP_SQL),
    "doc_repetition": (_doc_repetition, _DOC_REPETITION_SQL),
    "url_normalize": (_url_normalize, _URL_NORMALIZE_SQL),
    "doc_sample_stratified": (_doc_sample_stratified, _DOC_SAMPLE_SQL),
    "token_pack_bins": (_token_pack_bins, _TOKEN_PACK_SQL),
    "stream_dedup": (_stream_dedup, _STREAM_DEDUP_SQL),
    "pdf_objstm_extract": (_pdf_objstm_extract, _PDF_OBJSTM_SQL),
    "curation_pipeline": (_curation_pipeline, _CURATION_PIPELINE_SQL),
    "charlm_familiarity": (_charlm_familiarity, _CHARLM_SQL),
    "c4_filter": (_c4_filter, _C4_FILTER_SQL),
    "dsir_importance": (_dsir_importance, _DSIR_SQL),
    "unimax_alloc": (_unimax_alloc, _UNIMAX_ALLOC_SQL),
    "unimax_sample": (_unimax_sample, _UNIMAX_SAMPLE_SQL),
    "semdedup_keep": (_semdedup_keep, _SEMDEDUP_SQL),
    "semdedup_greedy": (_semdedup_greedy, _SEMDEDUP_GREEDY_SQL),
    "dup_span_removal": (_dup_span_removal, _DUP_SPAN_SQL),
    "char_span_removal": (_char_span_removal, _CHAR_SPAN_SQL),
    "char_span_winnow": (_char_span_winnow, _CHAR_WINNOW_SQL),
    "tfidf_topk": (_tfidf_topk, _TFIDF_SQL),
    "inverted_postings": (_inverted_postings, _INVERTED_SQL),
    "warc_ingest": (_warc_ingest, _WARC_INGEST_SQL),
    "warc_gz_ingest": (_warc_gz_ingest, _WARC_GZ_INGEST_SQL),
    "wet_roundtrip": (_wet_roundtrip, _WET_ROUNDTRIP_SQL),
    "robots_check": (_robots_check, _ROBOTS_CHECK_SQL),
    "sitemap_frontier": (_sitemap_frontier, _SITEMAP_FRONTIER_SQL),
    "sitemap_gz_parse": (_sitemap_gz_parse, _SITEMAP_GZ_PARSE_SQL),
    "html_head_meta": (_html_head_meta, _HTML_HEAD_META_SQL),
    "feed_discovery": (_feed_discovery, _FEED_DISCOVERY_SQL),
    "html_jsonld": (_html_jsonld, _HTML_JSONLD_SQL),
    "sitemap_index_parse": (_sitemap_index_parse, _SITEMAP_INDEX_SQL),
    "crawl_schedule": (_crawl_schedule, _CRAWL_SCHEDULE_SQL),
    "corpus_diff": (_corpus_diff, _CORPUS_DIFF_SQL),
    "langid_confusion": (_langid_confusion, _LANGID_CONFUSION_SQL),
    "train_val_split": (_train_val_split, _TRAIN_VAL_SPLIT_SQL),
    "corpus_report": (_corpus_report, _CORPUS_REPORT_SQL),
    "phrase_merges": (_phrase_merges, _PHRASE_MERGES_SQL),
    "phrase_merges_sampled": (
        _phrase_merges_sampled, _PHRASE_MERGES_SAMPLED_SQL),
    "ccnet_buckets": (_ccnet_buckets, _CCNET_BUCKETS_SQL),
    "anchor_index": (_anchor_index, _ANCHOR_INDEX_SQL),
    "decontaminate": (_decontaminate, _DECONTAMINATE_SQL),
    "mixture_rebalance": (_mixture_rebalance, _MIXTURE_REBALANCE_SQL),
    "chunk_windows": (_chunk_windows, _CHUNK_WINDOWS_SQL),
    "link_pagerank": (_link_pagerank, _LINK_PAGERANK_SQL),
    "corpus_percentiles": (_corpus_percentiles, _CORPUS_PERCENTILES_SQL),
    "events_session_window": (
        _events_session_window, _EVENTS_SESSION_WINDOW_SQL),
    "events_funnel": (_events_funnel, _EVENTS_FUNNEL_SQL),
    "events_rolling_7d": (_events_rolling_7d, _EVENTS_ROLLING_SQL),
    "sales_rollup": (_sales_rollup, _SALES_ROLLUP_SQL),
    "orders_pivot": (_orders_pivot, _ORDERS_PIVOT_SQL),
    "word_count_top": (_word_count_top, _WORD_COUNT_SQL),
    "cms_token_freq": (_cms_token_freq, _CMS_TOKEN_FREQ_SQL),
    "bloom_url_filter": (_bloom_url_filter, _BLOOM_URL_SQL),
    "hll_doc_registers": (_hll_doc_registers, _HLL_REGISTERS_SQL),
    "z_order_layout": (_z_order_layout, _Z_ORDER_SQL),
    "customer_setops": (_customer_setops, _CUSTOMER_SETOPS_SQL),
    "price_quantity_corr": (_price_quantity_corr, _PRICE_QTY_CORR_SQL),
    "customer_balance_deciles": (
        _customer_balance_deciles, _CUSTOMER_DECILES_SQL),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: build for name, (build, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}
