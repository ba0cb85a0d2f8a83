"""P4 low-yield split operator."""

from lexoid_spark.operators.routing import low_yield_split


def test_low_yield_split_partitions_all_rows(spark):
    df = spark.createDataFrame(
        [(1, "x" * 200), (2, "  short  "), (3, None)],
        "doc_id long, raw string",
    )
    parts = low_yield_split(df, character_threshold=50)
    kept = [r["doc_id"] for r in parts["kept"].collect()]
    low = [r["doc_id"] for r in parts["needs_review"].collect()]
    assert kept == [1]
    assert sorted(low) == [2, 3]  # null raw is low-yield, not dropped

