"""Skew-aware partitioning policies (north_rule: explicit
repartition-by-size + salted keys for giant blobs).

At 100 TB the ``pages`` table has a heavy tail of 100×–1000× median-size
HTML blobs (FIXTURES.md §1 skew knob). Equal-row partitions would make
byte-skewed stragglers; ``repartition_by_size`` range-partitions on the
payload byte length so each task sees ~equal *bytes*. ``salted`` gives
the classic partial/final two-phase aggregation key for hot urls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _size_col(df: DataFrame, payload_col: str):
    """Byte size of the payload: numeric columns of any type pass
    through (a precomputed ``n_bytes``), binary/string payloads get
    ``length()``. (``F.length`` on a number would count the digits of
    its printed form.)"""
    dtype = {f.name: f.dataType for f in df.schema.fields}.get(payload_col)
    c = F.col(payload_col)
    return c if isinstance(dtype, T.NumericType) else F.length(c)


def repartition_by_size(df: DataFrame, num_partitions: int,
                        payload_col: str = "html") -> DataFrame:
    """Range-repartition on payload byte size with a hash tiebreaker.

    ``repartitionByRange(length)`` alone puts all giant blobs in one
    range bucket; adding ``xxhash64(url)`` as the second sort key
    spreads equal-size rows uniformly. Small/medium docs co-locate into
    byte-balanced tasks; the giant tail spreads across partitions.

    This shuffles EVERY payload byte — use :func:`split_giant_tail`
    (the extract() default) unless the whole table needs re-balancing.
    """
    return df.repartitionByRange(
        num_partitions,
        _size_col(df, payload_col).asc(),
        F.xxhash64("url").asc(),
    )


def split_giant_tail(df: DataFrame, num_partitions: int,
                     payload_col: str = "html",
                     threshold_bytes: int = 1 << 20) -> DataFrame:
    """Spread only the giant-blob tail; the bulk never shuffles.

    Parquet input splits (``spark.sql.files.maxPartitionBytes``) already
    give ~byte-balanced *input*; the residual skew is per-row compute on
    rare giant documents. So: filter rows above ``threshold_bytes`` into
    a round-robin ``repartition`` (spreads them across all tasks) and
    union the untouched bulk — shuffle volume is the tail's bytes only,
    not the table's. At 100 TB with a ~2% tail that is a 50× cheaper
    shuffle than ``repartition_by_size``.
    """
    # null size (e.g. a null n_bytes metadata column) must not drop the
    # row from BOTH branches (null <= t and null > t are both null):
    # fall back to the actual payload length, then 0
    raw = _size_col(df, payload_col)
    size = raw
    if payload_col != "html" and "html" in df.columns:
        size = F.coalesce(size, F.length("html"))
    size = F.coalesce(size, F.lit(0))
    bulk = df.filter(size <= threshold_bytes)
    tail = df.filter(size > threshold_bytes)
    if payload_col != "html":
        # the coalesce() blocks parquet predicate pushdown; this
        # redundant, weaker conjunct IS pushable, so row groups whose
        # max(n_bytes) <= t (and with no nulls) never read their blobs
        tail = tail.filter(
            (raw > threshold_bytes) | raw.isNull()
        )
    tail = tail.repartition(num_partitions)
    return bulk.unionByName(tail)


def with_size_bucket(df: DataFrame, payload_col: str = "html",
                     col_name: str = "size_bucket") -> DataFrame:
    """Coarse log2 byte-size bucket column (for lineage/bench reporting)."""
    return df.withColumn(
        col_name,
        F.floor(F.log2(F.greatest(F.length(F.col(payload_col)), F.lit(1)))),
    )


def write_bucketed(df: DataFrame, table: str, key: str = "url",
                   n_buckets: int = 64, sort: bool = True) -> None:
    """Persist a table bucketed (and sorted) by ``key`` so every later
    equi-join/groupBy on that key is shuffle-free (SURVEY.md: co-located
    joins via bucketing — e.g. the extracted↔golden byte-identity join
    J4, or repeated url-keyed merges, at 100 TB).

    Uses ``saveAsTable`` — bucketing metadata lives in the session
    catalog; both sides of a join must be bucketed with the same key
    and bucket count for the exchange to be elided.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.format("parquet").saveAsTable(table)


def salted_group_merge(df: DataFrame, key: str, sort_col: str,
                       content_col: str, salt_buckets: int,
                       sep: str = "\n\n") -> DataFrame:
    """Two-phase (partial → final) ordered string merge per key.

    Replaces the reference's chunk-merge loop (``api.py:361-382``): the
    per-url page concat becomes ``groupBy(key, salt)`` partials (map-side
    combine limits shuffle volume for hot keys) followed by a final
    ``groupBy(key)``. Ordering is made total before any aggregation by
    sorting structs on (sort_col ASC) — struct sort order is
    lexicographic on field order, so output bytes are deterministic
    under any physical row order (SURVEY.md §7.4(4)).
    """
    # salt on (key, sort_col): a single hot key's rows spread across
    # salt_buckets partial groups (salting on key alone would keep the
    # hot key in one bucket and help nothing)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key), F.col(sort_col)),
                        F.lit(salt_buckets))
    )
    partial = (
        salted.groupBy(key, "_salt")
        .agg(
            F.collect_list(
                F.struct(F.col(sort_col).alias("s"),
                         F.col(content_col).alias("c"))
            ).alias("_parts")
        )
    )
    final = (
        partial.groupBy(key)
        .agg(
            F.array_sort(F.flatten(F.collect_list("_parts"))).alias("_all")
        )
        .select(
            key,
            F.concat_ws(sep, F.col("_all").getField("c")).alias(content_col),
            F.col("_all").alias("_sorted_parts"),
        )
    )
    return final


# ---------------------------------------------------------------------------
# Z-order clustering (multi-dimensional data layout)
# ---------------------------------------------------------------------------

def z_order_key(col_a, col_b, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative int columns into
    one Morton (Z-order) key — the multi-dimensional clustering key
    behind Delta/Iceberg's OPTIMIZE ZORDER: sorting by it keeps rows
    close in BOTH dimensions close in the file layout, so min/max
    file statistics prune scans filtered on either column. Pure
    shift/and/or bit arithmetic (value-independent codegen;
    bit-identical in any engine with integer bit ops)."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(
            F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i + 1,
        ) + F.shiftleft(
            F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i,
        )
    return z


def cluster_by_z(df: DataFrame, col_a: str, col_b: str,
                 num_partitions: int, bits: int = 16) -> DataFrame:
    """Lay the frame out in Z-order: range-partition + sort within
    partitions on the Morton key (one shuffle — the same cost as any
    re-layout — after which BOTH dimensions' file min/max stats are
    selective)."""
    keyed = df.withColumn("_z", z_order_key(col_a, col_b, bits))
    return (
        keyed.repartitionByRange(num_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
