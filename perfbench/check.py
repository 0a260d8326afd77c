"""Result checks: registered queries against their DuckDB oracles.

The comparison is the one the repository's oracle gate
(``tools/check_oracle.py``) makes, with its table list and row
normalization: the same column names (case-insensitive), the same row
count, and the same sorted rows once every float is printed to six
significant digits.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import TABLES, normalize  # noqa: E402

# DuckDB inlines a CTE at every reference, so the oracles written as chains
# of CTEs that each read the previous one several times (the unrolled
# k-core peel) recompute exponentially: 12 s instead of 0.05 s at sf0.001.
# Materializing every CTE gives the same answer.
MATERIALIZE = re.compile(r"(?i)\b(\w+)\s+AS\s*\(")


def _rows(pdf) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    pdf = pdf.rename(columns={c: c.lower() for c in pdf.columns})
    cols = sorted(pdf.columns)
    return tuple(cols), normalize(pdf, cols)


class Oracle:
    """DuckDB over the generated tables; one expected answer per query,
    computed on first use and kept for every later check."""

    def __init__(self, data_dir: str, sql: dict[str, str]) -> None:
        self.sql = sql
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str):
        if name not in self._expected:
            sql = MATERIALIZE.sub(r"\1 AS MATERIALIZED (", self.sql[name])
            self._expected[name] = _rows(self.con.execute(sql).df())
        return self._expected[name]

    def mismatch(self, name: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else a one-line reason."""
        want_cols, want_rows = self.expected(name)
        got_cols, got_rows = _rows(pdf)
        if got_cols != want_cols:
            return f"columns {list(got_cols)} != {list(want_cols)}"
        if len(got_rows) != len(want_rows):
            return f"rows {len(got_rows)} != {len(want_rows)}"
        if got_rows != want_rows:
            first = next(i for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b)
            return f"value mismatch at sorted row {first}"
        return None

    def close(self) -> None:
        self.con.close()
