"""Output check: each key's result, read back from its sink, against
its DuckDB oracle on the same generated files, canonicalized by
``tests/oracle_harness``. Runs after the timed passes, never inside them."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq

from tests.oracle_harness import canonicalize, duckdb_con


def read_sink(path: str) -> pd.DataFrame:
    """A result sink as ``DataFrame.toPandas()`` would have returned it:
    the session runs in UTC and hands back naive timestamps."""
    pdf = pq.read_table(path).to_pandas()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert(None)
    return pdf


class Oracle:
    """Expected results for one input directory, each computed once."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]) -> None:
        self._con = duckdb_con(sf_dir)
        self._sql = oracle_sql
        self._want: dict[str, tuple[list[str], list[tuple[str, ...]]]] = {}

    def expected(self, key: str) -> tuple[list[str], list[tuple[str, ...]]]:
        if key not in self._want:
            want = self._con.sql(self._sql[key]).df()
            self._want[key] = (sorted(want.columns), canonicalize(want))
        return self._want[key]

    def mismatch(self, key: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` is right, else what is wrong with it."""
        if key not in self._sql:
            return "no oracle"
        cols, want = self.expected(key)
        if sorted(got.columns) != cols:
            return f"columns {sorted(got.columns)} != {cols}"
        if len(got) != len(want):
            return f"rowcount {len(got)} != {len(want)}"
        for a, b in zip(canonicalize(got), want):
            if a != b:
                return f"row mismatch: got={a} want={b}"
        return None

    def close(self) -> None:
        self._con.close()
