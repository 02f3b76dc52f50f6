"""Result checks against the catalog's DuckDB oracles: the same
order-insensitive, column-name-sorted comparison the repo's oracle
parity tests make, with doubles compared bit for bit."""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb


def _normalize(value):
    if isinstance(value, Decimal):
        value = float(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value + 0.0)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    return value


def canonical(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_normalize(r[i]) for i in order) for r in rows), key=repr)


class Oracle:
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f).replace("'", "''")
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def matches(self, sql: str, columns: list[str], rows) -> tuple[bool, str]:
        o_cols, o_rows = self.rows(sql)
        if sorted(o_cols) != sorted(columns):
            return False, f"columns {sorted(columns)} != oracle {sorted(o_cols)}"
        got, want = canonical(columns, rows), canonical(o_cols, o_rows)
        if len(got) != len(want):
            return False, f"{len(got)} rows != oracle {len(want)}"
        if got != want:
            bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            return False, f"row {bad}: {got[bad]!r} != oracle {want[bad]!r}"
        return True, ""

    def close(self) -> None:
        self.con.close()
