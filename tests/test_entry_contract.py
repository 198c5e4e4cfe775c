"""Driver-contract conformance: every queries() entry runs; every
oracle_sql() entry matches the Spark result (row count + order-insensitive
values) at sf0.01 — a local mirror of the driver's CORRECTNESS gate."""

import duckdb
import pytest
from conftest import oracle_result, oracles, spark_result

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


ORACLES = oracles()
QUERIES = entry_mod.queries()


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    scols, s_norm = spark_result(QUERIES[name](spark, SF_DIR))
    dcols, d_norm = oracle_result(name, duck)
    assert sorted(scols) == sorted(dcols), (
        f"schema mismatch: spark={scols} duck={dcols}"
    )
    assert len(s_norm) == len(d_norm), (
        f"row count: spark={len(s_norm)} duck={len(d_norm)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{len(mismatches)} mismatching rows; first: {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_unoracled_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "bucket_id", "rule_id", "pass", "metric", "rows_checked", "snapshot"
    }


def test_driver_sample_window_covers_unsampled_queries():
    """Rotation-policy invariant (CLAUDE.md): the driver samples the
    FIRST ~50 queries() entries; every entry that has never had a
    driver CORRECTNESS row must therefore sit inside that window, or it
    can never close its gate."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sampled = set()
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        sampled |= set(json.load(open(f)))
    names = list(QUERIES)
    stragglers = [n for n in names
                  if n not in sampled and names.index(n) >= 50]
    assert not stragglers, (
        f"never-driver-sampled entries outside the 50-entry window: "
        f"{stragglers} — move them to the front block")
