"""Output checks for the tier benchmark, run outside every timed region.

A request's output is rendered to canonical rows the way the engine's
local oracle harness does (``tests/oracle.py``): columns sorted by name,
each cell rendered at full precision (floats by ``repr``, bare-midnight
timestamps as dates, NaN and None as ``NULL``), rows sorted.  Two outputs
match when their column names and canonical rows are identical.

Expectations come from two places:

* the DuckDB oracle SQL in ``spark_spotify.registry.ORACLE``, run over the
  generated tables;
* for the windowed dashboard variants, which have no oracle, a SHA-256
  fingerprint of the canonical rows recorded from the program by
  ``record_fingerprints.py`` (which runs each variant twice and refuses to
  record a variant whose two results differ).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import pandas as pd

FINGERPRINTS = os.path.join(os.path.dirname(__file__), "fingerprints.json")


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return "NULL"
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, dt.date):
        return str(v)
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass  # array-like cell: rendered by str below
    return str(v)


class Canon:
    """Canonical form of one result: sorted column names + sorted rows."""

    def __init__(self, pdf: pd.DataFrame):
        self.cols = sorted(str(c) for c in pdf.columns)
        self.rows = sorted(
            tuple(_render(v) for v in row)
            for row in pdf[self.cols].itertuples(index=False, name=None)
        )

    def digest(self) -> str:
        blob = json.dumps([self.cols, self.rows], separators=(",", ":"))
        return hashlib.sha256(blob.encode()).hexdigest()

    def mismatch(self, expected: "Canon | str") -> str | None:
        """None when this result matches ``expected`` (a Canon or a
        fingerprint digest), else a one-line reason."""
        if isinstance(expected, str):
            got = self.digest()
            if got != expected:
                return f"fingerprint {got[:12]} != {expected[:12]}"
            return None
        if self.cols != expected.cols:
            return f"columns {self.cols} != {expected.cols}"
        if len(self.rows) != len(expected.rows):
            return f"rows {len(self.rows)} != {len(expected.rows)}"
        bad = sum(a != b for a, b in zip(self.rows, expected.rows))
        if bad:
            return f"{bad} rows differ"
        return None


def corrupt(expected: "Canon | str") -> "Canon | str":
    """A copy of ``expected`` with one cell changed (or the digest
    flipped), for the self-test that a wrong expectation fails a run."""
    if isinstance(expected, str):
        return ("0" if expected[0] != "0" else "1") + expected[1:]
    bad = Canon(pd.DataFrame(columns=expected.cols))
    bad.rows = list(expected.rows) or [tuple("" for _ in expected.cols)]
    bad.rows[0] = (bad.rows[0][0] + "~",) + bad.rows[0][1:]
    return bad


class Oracle:
    """DuckDB oracle over the generated tables, one canonical result per
    registered query name, computed on first use and kept."""

    def __init__(self, data_dir: str, tables: list[str], sql: dict[str, str]):
        import duckdb

        self._sql = sql
        self._con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._memo: dict[str, Canon] = {}

    def expect(self, name: str) -> Canon:
        if name not in self._memo:
            self._memo[name] = Canon(self._con.execute(self._sql[name]).df())
        return self._memo[name]

    def close(self) -> None:
        self._con.close()


def load_fingerprints() -> dict[str, str]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)["fingerprints"]
