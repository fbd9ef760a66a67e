"""DuckDB oracle over the same input files the engine reads.

Every gateway reply and every corpus result is compared, outside the
timed window, against DuckDB's answer to the same question. The
comparison is order-insensitive (results are sorted by value), column
names must match, and floating-point cells match to a relative
tolerance — double sums and averages may round differently between
the two engines.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

from workloads import CSV_VIEW

REL_TOL = 1e-6
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def connect(sf_dir: str, csv_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    if csv_dir is not None:
        from datagen import CSV_COLUMNS

        duck_type = {"STRING": "VARCHAR", "INT": "INTEGER"}
        cols = ", ".join(f"'{n}': '{duck_type.get(t, t)}'" for n, t in CSV_COLUMNS)
        con.execute(
            f"CREATE TABLE {CSV_VIEW} AS SELECT * FROM read_csv("
            f"'{os.path.join(csv_dir, '*.csv')}', header = true, columns = {{{cols}}})"
        )
    return con


def answer(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row):
    return tuple(
        (x is None, round(x, 4) if isinstance(x, float) else str(x)) for x in row
    )


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the results match, else a one-line reason."""
    if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    g = sorted((tuple(_cell(x) for x in r) for r in got_rows), key=_sort_key)
    w = sorted((tuple(_cell(x) for x in r) for r in want_rows), key=_sort_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if not _close(a, b):
            return f"row {i}: {str(a)[:120]} != {str(b)[:120]}"
    return None
