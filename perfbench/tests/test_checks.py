"""Result checks against DuckDB on the benchmark's fixtures."""

import os
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(os.path.dirname(HERE), "fixtures", "sf0.01")
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402

SQL = "SELECT r_regionkey, r_name FROM region"


@pytest.fixture(scope="module")
def checker():
    return checks.Checker(FIXTURES, {"q_sql": SQL}, {"q_rows": 3}, {"q_empty"})


@pytest.fixture(scope="module")
def right():
    con = duckdb.connect()
    df = con.execute(
        f"SELECT r_regionkey, r_name FROM read_parquet('{FIXTURES}/region.parquet')"
    ).fetchdf()
    return df.sample(frac=1.0, random_state=0)  # row order must not matter


def test_sql_oracled_result_hash_matches(checker, right):
    assert checker.check("q_sql", right) is None


def test_wrong_value_is_caught(checker, right):
    bad = right.copy()
    bad.loc[bad.index[0], "r_name"] = "ATLANTIS"
    assert checker.check("q_sql", bad) == "values differ from oracle"


def test_missing_row_and_column_are_caught(checker, right):
    assert "row count" in checker.check("q_sql", right.iloc[1:])
    assert "columns" in checker.check("q_sql", right[["r_name"]])


def test_rows_only_count_and_empty_results(checker):
    assert checker.check("q_rows", [1, 2, 3]) is None
    assert checker.check("q_rows", [1, 2]) == "row count 2 != recorded 3"
    assert checker.check("q_rows", []) == "empty result"
    assert checker.check("q_empty", pd.DataFrame()) == "no oracle and no recorded row count"
    assert not checker.covers("q_unknown")


def test_recorded_counts_cover_every_rows_only_query():
    import __spark_entry__ as entry
    import workloads

    oracles, recorded = entry.oracle_sql(), checks.load_expected_rows()
    for queries in workloads.WORKLOADS.values():
        for key in queries:
            assert key in oracles or key in recorded, key
