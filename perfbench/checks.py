"""Result checks, run after each query's timer stops.

A query with oracle SQL must hash-match DuckDB on the same parquet
fixtures under the repository's own canonical form
(``oracle_check.canon_rows``).  A query without one must return the
row count recorded in ``expected_rows.json``.  An empty result is
wrong unless the registry declares it expected.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd

from oracle_check import canon_rows, duck_connect

HERE = os.path.dirname(os.path.abspath(__file__))


def load_expected_rows(path: str = os.path.join(HERE, "expected_rows.json")) -> dict[str, int]:
    with open(path) as fh:
        return {k: v for k, v in json.load(fh).items() if not k.startswith("_")}


class Checker:
    def __init__(self, fixture_dir: str, oracle_sql: dict[str, str],
                 expected_rows: dict[str, int], expected_empty: set[str]):
        self._con = duck_connect(fixture_dir)
        self._oracle_sql = oracle_sql
        self._expected_rows = expected_rows
        self._expected_empty = expected_empty
        self._oracle_rows: dict[str, tuple] = {}

    def covers(self, key: str) -> bool:
        return key in self._oracle_sql or key in self._expected_rows

    def _oracle(self, key: str) -> tuple:
        if key not in self._oracle_rows:
            self._oracle_rows[key] = canon_rows(
                self._con.execute(self._oracle_sql[key]).fetchdf()
            )
        return self._oracle_rows[key]

    def check(self, key: str, result: pd.DataFrame | list) -> str | None:
        """``None`` when the result is right, else the reason it is not."""
        n = len(result)
        if n == 0 and key not in self._expected_empty:
            return "empty result"
        if key not in self._oracle_sql:
            want = self._expected_rows.get(key)
            if want is None:
                return "no oracle and no recorded row count"
            return None if n == want else f"row count {n} != recorded {want}"
        if not isinstance(result, pd.DataFrame):
            return "result has non-scalar columns; cannot hash-match"
        try:
            cols, rows = canon_rows(result)
        except TypeError as e:  # oracle_check.CanonError
            return f"cannot canonicalise: {e}"
        try:
            ocols, orows = self._oracle(key)
        except duckdb.Error as e:
            return f"oracle failed: {e}"
        if cols != ocols:
            return f"columns {cols} != oracle {ocols}"
        if len(rows) != len(orows):
            return f"row count {len(rows)} != oracle {len(orows)}"
        if rows != orows:
            return "values differ from oracle"
        return None
