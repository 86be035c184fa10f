"""Output checks. They run outside every timed region."""

from __future__ import annotations

import datetime as dt
import hashlib
import math


def _cell(v):
    """Canonical form of one value: doubles to 9 significant digits (the
    rounding of the repo's DuckDB oracle harness), NaN as NULL, timestamps
    as naive ISO strings, arrays as tuples."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays from DuckDB
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def table_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, keyed by column name
    so column order does not matter either."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple((columns[i], _cell(r[i])) for i in order)) for r in rows
    )
    return len(canon), hashlib.sha1("\n".join(canon).encode()).hexdigest()


def spark_digest(rows) -> tuple[int, str]:
    cols = list(rows[0].__fields__) if rows else []
    return table_digest(cols, [tuple(r) for r in rows])


def duckdb_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return table_digest(cols, cur.fetchall())
