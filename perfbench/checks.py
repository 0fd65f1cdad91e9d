"""Answer checks, run once per run outside the timed window.

Each check returns a list of failure strings; an empty list is a pass.
Values are compared as multisets after canonicalising both sides: dates
become ISO strings and numbers (including numbers the engine serialised as
text) compare to a relative tolerance of 1e-6.
"""

from __future__ import annotations

import math
import re

_ORDER_LIMIT = re.compile(r"ORDER BY\s+(\w+)(\s+DESC)?\s+LIMIT\s+(\d+)\s*$", re.I)


def _canon(value):
    if value is None:
        return ("0", "")
    if hasattr(value, "isoformat"):
        value = value.isoformat()
    if isinstance(value, (list, tuple)):
        return ("l", tuple(_canon(v) for v in value))
    if isinstance(value, bool):
        return ("s", str(value))
    try:
        number = float(value)
    except (TypeError, ValueError):
        return ("s", str(value))
    if math.isnan(number):
        return ("s", "nan")
    return ("n", float(f"{number:.6g}"), number)


def _sort_key(row):
    return tuple(c[:2] for c in row)


def _close(a, b) -> bool:
    if a[0] != b[0]:
        return False
    if a[0] == "n":
        return math.isclose(a[2], b[2], rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def same_multiset(got: list[tuple], expected: list[tuple]) -> bool:
    if len(got) != len(expected):
        return False
    g = sorted((tuple(_canon(v) for v in r) for r in got), key=_sort_key)
    e = sorted((tuple(_canon(v) for v in r) for r in expected), key=_sort_key)
    return all(len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y)) for x, y in zip(g, e))


def response_rows(response: dict) -> list[tuple]:
    columns = response.get("columns") or []
    return [tuple(row.get(c) for c in columns) for row in response.get("data") or []]


def check_star(con, response: dict, cap: int | None = None) -> list[str]:
    """Star-SQL or operator route: DuckDB on the emitted SQL (the operator
    routes emit their registry oracle). ``cap`` applies the engine's result
    cap to the DuckDB side for the LLM export routes."""
    sql = response["sql_query"]
    expected = con.execute(f"SELECT * FROM ({sql}) LIMIT {cap}" if cap else sql).fetchall()
    got = response_rows(response)
    if not same_multiset(got, expected):
        return [f"duckdb mismatch: {len(got)} vs {len(expected)} rows for {sql[:80]!r}"]
    return []


def check_employees(spark, serialize_rows, response: dict) -> list[str]:
    """Employee route: the emitted SQL re-run through ``spark.sql`` outside
    the engine. ``ORDER BY k LIMIT n`` over a key with ties may keep any of
    the tied rows, so there the ordered key column must match and every row
    must belong to the un-limited answer."""
    from collections import Counter

    from pyspark.sql import functions as F

    sql = response["sql_query"]
    df = spark.sql(sql)
    columns = df.columns
    raw = [tuple(r) for r in df.collect()]

    def serialized(rows):
        return [tuple(d[c] for c in columns) for d in serialize_rows(columns, rows)]

    expected, got = serialized(raw), response_rows(response)
    if same_multiset(got, expected):
        return []
    m = _ORDER_LIMIT.search(sql)
    if m and m.group(1) in columns and raw and len(got) == len(expected):
        k = columns.index(m.group(1))
        boundary = raw[-1][k]
        if [r[k] for r in got] == [r[k] for r in expected] and same_multiset(
            [r for r in got if r[k] != expected[-1][k]],
            [r for r in expected if r[k] != expected[-1][k]],
        ):
            key = F.col(f"`{m.group(1)}`")
            tied = spark.sql(sql[: m.start()]).where(
                key.isNull() if boundary is None else key == boundary)
            pool = Counter(tuple(c[:2] for c in map(_canon, r))
                           for r in serialized([tuple(r) for r in tied.collect()]))
            need = Counter(tuple(c[:2] for c in map(_canon, r))
                           for r in got if r[k] == expected[-1][k])
            if not need - pool:
                return []
    return [f"spark rerun mismatch: {len(got)} vs {len(expected)} rows for {sql[:80]!r}"]


def check_cell(con, name: str, rows: list[tuple], oracle: str | None) -> list[str]:
    if not rows:
        return [f"{name}: no rows"]
    if oracle is None:
        return []
    expected = con.execute(oracle).fetchall()
    if not same_multiset(rows, expected):
        return [f"{name}: oracle mismatch, {len(rows)} vs {len(expected)} rows"]
    return []


def duckdb_views(data_dir: str, tables) -> object:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con
