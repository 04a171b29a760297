"""Output checks: results compared with DuckDB by the project's own oracle.

Comparison and the DuckDB views over the query tables come from
``tests/oracle.py`` (used read-only): row count, column names, raw dtype
classes, then values order-insensitively with a 1e-6 float tolerance. The
workloads collect each result inside their timed spans, so ``check`` hands
the already-collected pandas frame to ``compare``. The ingest reads compare
against DuckDB over the landed files (``duckdb_over_files``).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.oracle import compare, duckdb_conn  # noqa: F401  re-exported


class _Collected:
    """A collected result in the shape ``compare`` expects of a DataFrame."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def check(result: pd.DataFrame, want: pd.DataFrame, name: str) -> list[str]:
    """Differences between a collected result and its oracle (empty = equal)."""
    return compare(_Collected(result), want, name)


def duckdb_over_files(paths: list[str]) -> duckdb.DuckDBPyConnection:
    """One view ``t`` over the given parquet files."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    listed = ", ".join(f"'{p}'" for p in paths)
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{listed}])")
    return con
