"""Checks a query's written result against its DuckDB oracle.

Both sides are compared as multisets of rows: columns sorted by name, rows
sorted, floats within a relative and absolute tolerance of 1e-9, and an
integer column never equal to a float column.
"""
import glob
import os

import duckdb
import pandas as pd


def _kind(dtype):
    k = getattr(dtype, "kind", None)
    s = str(dtype)
    if k in ("i", "u") or s.startswith(("Int", "UInt")):
        return "int"
    if k == "f" or s.startswith("Float"):
        return "float"
    if k == "b" or s == "boolean":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    return "object"


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


class Oracle:
    """DuckDB over the run's input tables; one cached answer per query."""

    def __init__(self, data_dir, sql_by_query):
        self.con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(path)[:-len(".parquet")]
            self.con.execute(f"create view {name} as select * from read_parquet('{path}')")
        self.sql = sql_by_query
        self.answers = {}

    def expected(self, query):
        if query not in self.answers:
            self.answers[query] = _canon(self.con.execute(self.sql[query]).df())
        return self.answers[query]

    def check(self, query, out_dir):
        """(rows, None) when the result at `out_dir` matches, else (rows, why)."""
        parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not parts:
            return 0, "no result written"
        got = _canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
        want = self.expected(query)
        if list(got.columns) != list(want.columns):
            return len(got), f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return len(got), f"{len(got)} rows != {len(want)}"
        for c in got.columns:
            a, b = got[c], want[c]
            if _kind(a.dtype) != _kind(b.dtype):
                return len(got), f"{c}: dtype {a.dtype} != {b.dtype}"
            try:
                pd.testing.assert_series_equal(a, b, check_dtype=False, check_exact=False,
                                               rtol=1e-9, atol=1e-9, check_names=False)
            except AssertionError:
                return len(got), f"{c}: values differ"
        return len(got), None
