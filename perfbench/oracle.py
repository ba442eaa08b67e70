"""Oracle check: each workload query's collected output against its
``registry.ORACLE`` SQL run in DuckDB over the same parquet tables,
compared through the test suite's canonical form
(``tests/conftest.pandas_canon``).

DuckDB answers are keyed by the SQL text, the table bytes and the
DuckDB version, and kept under the benchmark's work directory: some
registry oracles take up to a minute at this scale, so the first run in
a checkout computes them and later runs reuse them.  A changed oracle,
table or DuckDB version misses the cache and is run again.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path


def _digest(cols, rows) -> str:
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def data_fingerprint(data_dir: Path, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        h.update(t.encode())
        h.update((data_dir / f"{t}.parquet").read_bytes())
    return h.hexdigest()


class Oracle:
    def __init__(self, data_dir: Path, cache_dir: Path, tmp_dir: Path, tables) -> None:
        self.data_dir, self.cache_dir, self.tmp_dir = data_dir, cache_dir, tmp_dir
        self.tables = tables
        self._con = None
        self._data_key = data_fingerprint(data_dir, tables)

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.tmp_dir}'")
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir / t}.parquet'")
        return con

    def expected(self, sql: str, name: str) -> dict:
        """``{"cols", "rows", "digest"}`` of the oracle's canonical answer."""
        import duckdb

        from tests.conftest import pandas_canon

        key = hashlib.sha256(
            "\0".join((sql, self._data_key, duckdb.__version__)).encode()
        ).hexdigest()
        path = self.cache_dir / f"{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        if self._con is None:
            self._con = self._connect()
        rows, cols = pandas_canon(self._con.sql(sql).df(), f"{name}[duckdb]")
        answer = {"cols": cols, "rows": len(rows), "digest": _digest(cols, rows)}
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(answer))
        os.replace(tmp, path)
        return answer

    def check(self, name: str, sql: str | None, pdf) -> str | None:
        """``None`` when ``pdf`` (the query's collected output) matches;
        otherwise the reason it does not.  Without an oracle the check
        is rows-only: the output must not be empty."""
        from tests.conftest import pandas_canon

        if sql is None:
            return None if len(pdf) > 0 else "rows-only check: no rows"
        want = self.expected(sql, name)
        rows, cols = pandas_canon(pdf, f"{name}[spark]")
        if cols != want["cols"]:
            return f"columns {cols} != oracle {want['cols']}"
        if len(rows) != want["rows"]:
            return f"{len(rows)} rows != oracle {want['rows']}"
        if _digest(cols, rows) != want["digest"]:
            return "values differ from oracle"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
