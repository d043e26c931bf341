#!/usr/bin/env python3
"""Reference output for the sft_pack workload (q96), independent of the JVM.

Runs the repository's pseudonymization golden generator
(tools/gen_pseudo_golden.py) over the staged transcript table, then the q96
DuckDB SQL (already pointed at those two files by the caller) and writes
its rows to parquet.

The generator is run unchanged, except that its row-at-a-time
`executemany` INSERT goes through one bulk insert from a pandas frame
(the same rows, ~20x faster).

Usage: sft_oracle.py <repo> <raw_parquet_glob> <pseudo_out> <sql_file> <out>
"""
import contextlib
import importlib.util
import re
import sys

import duckdb
import pandas


class _BulkConnection:
    """A DuckDB connection whose `executemany` of a plain
    `INSERT INTO t VALUES (...)` inserts all rows at once."""

    def __init__(self, con):
        self._con = con

    def __getattr__(self, name):
        return getattr(self._con, name)

    def executemany(self, sql, rows):
        m = re.fullmatch(r"INSERT INTO (\w+) VALUES \([?, ]*\)", sql.strip())
        if not m:
            return self._con.executemany(sql, rows)
        table = m.group(1)
        cols = [c[0] for c in self._con.execute(f"DESCRIBE {table}").fetchall()]
        self._con.register("_bulk_rows", pandas.DataFrame(rows, columns=cols))
        try:
            self._con.execute(f"INSERT INTO {table} SELECT * FROM _bulk_rows")
        finally:
            self._con.unregister("_bulk_rows")
        return self


class _BulkDuckDB:
    def __getattr__(self, name):
        return getattr(duckdb, name)

    @staticmethod
    def connect(*args, **kwargs):
        return _BulkConnection(duckdb.connect(*args, **kwargs))


def pseudonymize(repo, raw, out):
    tool = f"{repo}/tools/gen_pseudo_golden.py"
    spec = importlib.util.spec_from_file_location("gen_pseudo_golden", tool)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [tool, raw, out]  # the tool reads argv on import
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    mod.duckdb = _BulkDuckDB()
    with contextlib.redirect_stdout(sys.stderr):
        mod.main()


def main():
    repo, raw, pseudo, sql_file, out = sys.argv[1:6]
    pseudonymize(repo, raw, pseudo)
    with open(sql_file, encoding="utf-8") as f:
        sql = f.read()
    duckdb.connect().execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main()
