"""Partitioning and data-layout operators.

At 100 TB the ``pages`` table has a heavy tail of 100×–1000× median-size
HTML blobs (FIXTURES.md §1 skew knob). Parquet input splits already
give ~byte-balanced input, so the one skew rule is
:func:`split_giant_tail`: shuffle only the straggler tail round-robin
and leave the bulk on its input splits (the rule DS2, ICDE 2021, argues
for). :func:`z_order_key` is the Morton key an entry query clusters by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.functions.columns import sql_ident


def _size_sql(df: DataFrame, payload_col: str) -> str:
    """Byte size of the payload as SQL text: numeric columns of any type
    pass through (a precomputed ``n_bytes``), binary/string payloads get
    ``length()``. (``length`` of a number would count the digits of its
    printed form.)"""
    dtype = {f.name: f.dataType for f in df.schema.fields}.get(payload_col)
    c = sql_ident(payload_col)
    return c if isinstance(dtype, T.NumericType) else f"length({c})"


def split_giant_tail(df: DataFrame, num_partitions: int,
                     payload_col: str = "html",
                     threshold_bytes: int = 1 << 20) -> DataFrame:
    """Spread only the giant-blob tail; the bulk never shuffles.

    Parquet input splits (``spark.sql.files.maxPartitionBytes``) already
    give ~byte-balanced *input*; the residual skew is per-row compute on
    rare giant documents. So: filter rows above ``threshold_bytes`` into
    a round-robin ``repartition`` (spreads them across all tasks) and
    union the untouched bulk — shuffle volume is the tail's bytes only,
    not the table's: at 100 TB with a ~2% tail, 50× less than a full
    range repartition on byte size.

    The predicates are SQL text: ``extract()`` builds this split on
    every call, and each Column-API call costs py4j round trips.
    """
    # null size (e.g. a null n_bytes metadata column) must not drop the
    # row from BOTH branches (null <= t and null > t are both null):
    # fall back to the actual payload length, then 0
    raw = _size_sql(df, payload_col)
    size = raw
    if payload_col != "html" and "html" in df.columns:
        size = f"coalesce({size}, length(html))"
    size = f"coalesce({size}, 0)"
    t = int(threshold_bytes)
    bulk = df.filter(f"{size} <= {t}")
    tail = df.filter(f"{size} > {t}")
    if payload_col != "html":
        # the coalesce() blocks parquet predicate pushdown; this
        # redundant, weaker conjunct IS pushable, so row groups whose
        # max(n_bytes) <= t (and with no nulls) never read their blobs
        tail = tail.filter(f"({raw} > {t}) OR ({raw} IS NULL)")
    tail = tail.repartition(num_partitions)
    return bulk.unionByName(tail)


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
