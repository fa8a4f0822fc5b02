"""Result canonicalisation and DuckDB oracles.

A result is reduced to a digest that ignores column order and row order:
columns sorted by name, cells canonicalised (floats by ``repr``, decimals
as floats, dates and timestamps in ISO form, NULL and NaN alike), rows
sorted. The engine's DuckDB oracle SQL and the benchmark's own reference
SQL are run on the same generated parquet files, after the timed loop.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import os

import duckdb
import pyarrow.parquet as pq


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows: list) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


class Oracle:
    """A DuckDB connection with the generated tables as views.

    DuckDB splits a parquet scan by row group, and the inputs have one row
    group per file, so every single-file table is first copied into
    ``temp_dir`` in small row groups: the same rows, scanned on every
    thread. The engine under test still reads the original files."""

    ROW_GROUP = 16_384

    def __init__(self, tables: dict[str, str], threads: int, temp_dir: str):
        os.makedirs(temp_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for name, path in tables.items():
            if "*" not in path:
                copy = os.path.join(temp_dir, f"{name}.parquet")
                pq.write_table(pq.read_table(path), copy, row_group_size=self.ROW_GROUP)
                path = copy
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> str:
        cur = self.con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def same_rows(self, a: str, b: str) -> bool:
        """Whether two queries return the same multiset of rows."""
        return self.con.execute(
            f"SELECT (SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b}))) + "
            f"(SELECT COUNT(*) FROM (({b}) EXCEPT ALL ({a})))"
        ).fetchone()[0] == 0

    def close(self) -> None:
        self.con.close()
