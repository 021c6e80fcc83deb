"""Per-request correctness: the registry's DuckDB oracle over the same
input dir, compared with the canonical row-multiset compare of
scripts/driver_sim.py.

Each oracle result is computed once per run and kept in memory.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd

from inputs import ROOT


def _driver_sim():
    path = os.path.join(ROOT, "scripts", "driver_sim.py")
    spec = importlib.util.spec_from_file_location("driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_DS = _driver_sim()


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    """driver_sim.canon_frame over lower-cased column names."""
    return _DS.canon_frame(df.rename(columns=str.lower))


def compare(got: pd.DataFrame, want: pd.DataFrame, want_rows: list[tuple] | None = None) -> str | None:
    """None when the frames hold the same rows, else why they differ.
    `want_rows` is canon_rows(want) when the caller already has it."""
    got = got.rename(columns=str.lower)
    want = want.rename(columns=str.lower)
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    want_rows = canon_rows(want) if want_rows is None else want_rows
    bad = sum(a != b for a, b in zip(canon_rows(got), want_rows))
    return f"{bad} value mismatches" if bad else None


class Oracle:
    def __init__(self, sf_dir: str, oracles: dict[str, str | None]) -> None:
        self._sql = oracles
        self._cache: dict[str, tuple[pd.DataFrame, list[tuple]] | str] = {}
        self._con = duckdb.connect()
        self._con.execute("SET TimeZone='UTC'")
        for t in _DS.TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """None when `got` matches the oracle, else why not. A query with
        no oracle, or whose oracle SQL raises, counts as a mismatch."""
        if name not in self._cache:
            sql = self._sql[name]
            if sql is None:
                self._cache[name] = "no oracle"
            else:
                try:
                    want = self._con.execute(sql).df()
                    self._cache[name] = (want, canon_rows(want))
                except Exception as ex:  # noqa: BLE001 - reported as the request's failure
                    self._cache[name] = f"oracle error: {type(ex).__name__}: {ex}"[:400]
        cached = self._cache[name]
        return cached if isinstance(cached, str) else compare(got, *cached)

    def close(self) -> None:
        self._con.close()
