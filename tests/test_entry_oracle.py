"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() on the same
parquet tables via DuckDB; compare row count + column names +
order-insensitive stringified values (the driver's value-hash).

Runs at sf0.001 in pytest for speed; run manually at sf0.01 to mirror
the driver exactly (tools/check_oracles.py).
"""

import hashlib
import json
import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracles import TABLES, _rowset  # noqa: E402

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

# sha256 of json.dumps(oracle_sql(), sort_keys=True): the oracle SQL
# text is byte-identical across refactors of the query registry
ORACLE_SQL_SHA256 = (
    "fe65a9c096e0b17356fb308fa9b8a419e9e864b73349d9438ddcaec5c07ec09a"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    assert name in ORACLES, f"{name}: no oracle_sql() entry"
    res = duck.execute(ORACLES[name])
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    sset = _rowset(scols, srows)
    dset = _rowset(dcols, drows)
    if sset != dset:
        diffs = [
            (a, b) for a, b in zip(sset, dset) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_registry_pairs_every_query_with_its_oracle():
    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) == 167


def test_oracle_sql_byte_identical():
    blob = json.dumps(ORACLES, sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_SQL_SHA256


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["url", "title", "raw", "segments", "parser_used", "n_chars", "n_tokens"]
    assert len(rows) > 0
