"""DuckDB recomputations the benchmark checks engine outputs against.

Rows compare as multisets with columns sorted by name; timestamps
compare as naive UTC, floats with a relative tolerance of 1e-9.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import re

import duckdb

_CTE = re.compile(r"(WITH(?:\s+RECURSIVE)?\s+|,\s*)(\w+)\s+AS\s*\(")


def materialized(sql: str) -> str:
    """The same query with every named, non-recursive CTE marked
    ``MATERIALIZED``. The catalog oracles reference some CTEs many times
    (the MinHash table once per LSH band); DuckDB would otherwise
    recompute each reference. Results are unchanged."""
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def connect(table_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<name>.parquet`` file of
    ``table_dir``, if given."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    paths = glob.glob(os.path.join(table_dir, "*.parquet")) if table_dir else []
    for path in sorted(paths):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def store_table(store_path: str, table: str) -> str:
    """DuckDB source expression for one live table of a SensorTableStore."""
    pattern = os.path.join(store_path, table, "reading_date=*", "*.parquet")
    return f"read_parquet('{pattern}', hive_partitioning = true)"


def query(con, sql: str, params=None) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql, params or [])
    return [d[0] for d in cur.description], cur.fetchall()


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(
    cols_a: list[str], rows_a: list, cols_b: list[str], rows_b: list
) -> tuple[bool, str]:
    """Multiset equality of two result sets, columns matched by name."""
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return False, f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return False, f"{len(rows_a)} rows != {len(rows_b)} rows"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i].lower())
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i].lower())

    def canon(rows, order):
        out = [tuple(_norm(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda r: [(x is None, str(x)) for x in r])

    for ra, rb in zip(canon(rows_a, ia), canon(rows_b, ib)):
        if not all(_same(x, y) for x, y in zip(ra, rb)):
            return False, f"row {ra} != {rb}"
    return True, f"{len(rows_a)} rows equal"
