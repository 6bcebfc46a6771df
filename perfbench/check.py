"""Answer checker shared by every workload.

A result is (column names, rows). The service's `/db/query` JSON, a Spark
plan's collected rows and DuckDB's fetched rows are all brought to the same
JSON-like values, then compared: column names, row count, and every value
(floats to a relative 1e-9). Row order is kept when the SQL has a top-level
ORDER BY; otherwise both sides are sorted first.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import re

_FLOAT_TOL = 1e-9


def norm(v):
    """One value, as the service's JSON serializer would render it."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return str(v) if math.isnan(v) or math.isinf(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, (_dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    if hasattr(v, "asDict"):  # pyspark Row used as a struct value
        return {k: norm(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {str(k): norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays from DuckDB list columns
        return norm(v.tolist())
    return str(v)


def _same(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b or a == b and type(a) is type(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=_FLOAT_TOL, abs_tol=_FLOAT_TOL)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _sort_key(row):
    def one(v):
        if v is None:
            return (0, "")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return (1, f"{float(v):+.9e}")
        return (2, repr(v))

    return tuple(one(v) for v in row)


_LITERAL_RE = re.compile(r"'(?:[^']|'')*'|--[^\n]*|/\*.*?\*/", re.DOTALL)


def has_top_level_order_by(sql: str) -> bool:
    """True when the outermost query ends in ORDER BY (window, aggregate and
    subquery ORDER BYs sit inside parentheses and do not count)."""
    text = _LITERAL_RE.sub(lambda m: " " * len(m.group(0)), sql)
    depth = 0
    for i, ch in enumerate(text):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "oO" and re.match(r"ORDER\s+BY\b", text[i:], re.I):
            if i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"):
                return True
    return False


def compare(sql: str, got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the answers agree, else a one-line reason."""
    got_cols, want_cols = list(got_cols), list(want_cols)
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    got = [[norm(v) for v in r] for r in got_rows]
    want = [[norm(v) for v in r] for r in want_rows]
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if not has_top_level_order_by(sql):
        got.sort(key=_sort_key)
        want.sort(key=_sort_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {i}: {g} != {w}"
    return None


def duckdb_answer(con, sql: str):
    """(columns, rows) of `sql` on a DuckDB connection or cursor."""
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()
