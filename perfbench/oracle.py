"""Output check against the corpus's DuckDB oracles.

The comparison is the repo's own, ``tests/oracle_utils.compare`` (row
count, column names, order-insensitive values).  The inputs are fixed,
so each oracle result is computed once, before any session starts, and
cached under the work directory; the cache key includes the oracle SQL
and the input directory, so a changed oracle is recomputed.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import __spark_entry__ as contract
from tests.oracle_utils import compare, duckdb_con


class _CachedResult:
    """The slice of a DuckDB result that ``compare`` reads."""

    def __init__(self, cols: list[str], rows: list[tuple]):
        self.description = [(c,) for c in cols]
        self._rows = rows

    def fetchall(self) -> list[tuple]:
        return self._rows


class _CachedCon:
    def __init__(self, result: _CachedResult):
        self._result = result

    def execute(self, _sql: str) -> _CachedResult:
        return self._result


class Checker:
    """Compares op results with oracle results cached in ``cache_dir``;
    ``fill`` computes the missing ones with DuckDB."""

    def __init__(self, cache_dir: str, sf_dir: str):
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self.sql = contract.oracle_sql()

    def _path(self, name: str) -> str:
        key = hashlib.sha256(
            f"{self.sf_dir}\n{self.sql[name]}".encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def fill(self, names: list[str]) -> None:
        missing = [n for n in names if not os.path.exists(self._path(n))]
        if not missing:
            return
        os.makedirs(self.cache_dir, exist_ok=True)
        con = duckdb_con(self.sf_dir)
        for name in missing:
            res = con.execute(self.sql[name])
            cols, rows = [d[0] for d in res.description], res.fetchall()
            tmp = f"{self._path(name)}.{os.getpid()}"
            with open(tmp, "wb") as f:
                pickle.dump((cols, rows), f)
            os.replace(tmp, self._path(name))
        con.close()

    def check(self, name: str, df) -> None:
        """Raise AssertionError when ``df`` differs from the oracle."""
        with open(self._path(name), "rb") as f:
            result = _CachedResult(*pickle.load(f))
        compare(df, _CachedCon(result), self.sql[name])
