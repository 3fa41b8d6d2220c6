"""Output checks against DuckDB, run outside every timed region.

``compare`` applies the project's oracle comparison
(``tests/oracle_utils.py``: columns sorted by name, order-insensitive
rows, floats rounded to 9 decimal places, midnight timestamps read as
dates); a mismatch returns a reason instead of raising, so the
benchmark counts it and carries on.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from dieter___etl___monarchmoney_spark.sources.parquet import TABLES
from tests import oracle_utils


def connect(inputs: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{inputs}/.duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def _lists(df: pd.DataFrame) -> pd.DataFrame:
    """Array cells as the repr of their normalised elements, which the
    project's cell normaliser leaves as they are."""
    def is_list(v) -> bool:
        return isinstance(v, (list, tuple, np.ndarray))

    def cell(v):
        if is_list(v):
            return repr([cell(x) for x in (v.tolist() if isinstance(v, np.ndarray) else v)])
        return oracle_utils._norm_cell(v)

    df = df.copy()
    for c in df.columns:
        if df[c].map(is_list).any():
            df[c] = df[c].map(cell)
    return df


def compare(got_raw: pd.DataFrame, want_raw: pd.DataFrame) -> str | None:
    """None when the frames match, else the first difference found."""
    try:
        oracle_utils._check_dtype_kinds(got_raw, want_raw)
        got = oracle_utils.normalize(_lists(got_raw))
        want = oracle_utils.normalize(_lists(want_raw))
        assert list(got.columns) == list(want.columns), (
            f"columns {list(got.columns)} vs {list(want.columns)}")
        assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return None


class Oracles:
    """DuckDB oracle results, computed once per invocation and cached
    by SQL text."""

    def __init__(self, con: duckdb.DuckDBPyConnection):
        self.con = con
        self._cache: dict[str, pd.DataFrame] = {}

    def result(self, sql: str) -> pd.DataFrame:
        if sql not in self._cache:
            self._cache[sql] = self.con.sql(sql).df()
        return self._cache[sql]
