"""Output checks for the benchmark, run outside every timed window.

Oracle-backed queries are compared with their ``registry.ORACLE`` SQL,
run by DuckDB on the same generated files, with the canonicalisation
of ``tests/oracle_harness.py``. Rows-only queries are checked against
their entry in ``workloads.json``'s ``rows_only``:

- ``rows``: the row count; the generator keeps row counts and key
  degrees, so it holds for every seed;
- ``finite``: columns whose values must all be finite;
- ``unit_interval``: columns whose values must lie in [0, 1];
- ``non_increasing``: ``{"column": c, "first": n}``, column ``c`` must
  not increase over the first ``n`` rows (all rows without ``first``),
  as a training loss does from one iteration to the next;
- ``equals``: the exact rows, for outputs no seed changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.oracle_harness import canonicalize, duckdb_connection


class Checker:
    def __init__(self, sf_dir: str, oracle: dict[str, str], rows_only: dict[str, dict]):
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.rows_only = rows_only
        self._expected: dict[str, pd.DataFrame] = {}

    def prepare(self, names) -> None:
        """Run the DuckDB oracle of every oracle-backed query once."""
        con = duckdb_connection(self.sf_dir)
        try:
            for name in names:
                if name in self.oracle and name not in self._expected:
                    self._expected[name] = con.execute(self.oracle[name]).fetchdf()
        finally:
            con.close()

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None if ``got`` is the correct output of ``name``, else why not."""
        if name not in self.oracle:
            return check_rows_only(got, self.rows_only[name])
        want = self._expected[name]
        if len(got) != len(want):
            return f"rows: got {len(got)}, want {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns: got {sorted(got.columns)}, want {sorted(want.columns)}"
        try:
            a, b = canonicalize(got), canonicalize(want)
        except TypeError as exc:
            return str(exc)
        if not a.equals(b):
            return f"{int((a != b).any(axis=1).sum())}/{len(a)} rows differ"
        return None


def check_rows_only(got: pd.DataFrame, spec: dict) -> str | None:
    """None if ``got`` meets ``spec`` (see the module docstring), else why not."""
    if len(got) != spec["rows"]:
        return f"rows: got {len(got)}, want {spec['rows']}"
    for col in spec.get("finite", []):
        values = got[col].to_numpy(dtype=float)
        if not np.isfinite(values).all():
            return f"{col}: not all finite"
    for col in spec.get("unit_interval", []):
        values = got[col].to_numpy(dtype=float)
        if not ((values >= 0) & (values <= 1)).all():
            return f"{col}: outside [0, 1]: {values.tolist()}"
    if "non_increasing" in spec:
        col, first = spec["non_increasing"]["column"], spec["non_increasing"].get("first")
        values = got[col].to_numpy(dtype=float)[:first]
        if (np.diff(values) > 0).any():
            return f"{col}: increases: {values.tolist()}"
    if "equals" in spec and got.values.tolist() != spec["equals"]:
        return f"got {got.values.tolist()}, want {spec['equals']}"
    return None
