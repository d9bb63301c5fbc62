"""Output checks: canonical rows, digests and DuckDB oracles.

Rows are normalised the way the engine's own oracle tests do it
(``tests/_compare.py``): ``Decimal`` becomes ``float``, timestamps become
ISO strings, NaN becomes the string ``"NaN"``, and rows are sorted by
``repr``, so comparisons are value-exact and order-insensitive.

SQL templates are checked against DuckDB running the same statement over the
same parquet files.  That check runs in a child process
(``python3 perfbench/check.py <results.json> <verdicts.json>``) so DuckDB's
memory never counts in the driver process's peak RSS.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import re
import sys
from decimal import Decimal

# Spark and DuckDB sum doubles in different orders, so float aggregates of
# SQL templates agree to this relative tolerance, not bit for bit.  Operator
# oracles are written to be bit-exact and are compared by digest instead.
FLOAT_REL_TOL = 1e-9


def canon_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon_rows(rows, cols: list[str] | None = None) -> list[tuple]:
    """Canonical, sorted rows.  With ``cols``, columns are reordered by name
    (operator results); without, they stay positional (SQL results, whose
    column names differ between dialects, e.g. ``GENERATE_SERIES``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i]) if cols else None
    out = []
    for row in rows:
        vals = tuple(row)
        if order is not None:
            vals = tuple(vals[i] for i in order)
        out.append(tuple(canon_value(v) for v in vals))
    return sorted(out, key=repr)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) and not isinstance(b, bool):
        return a == b or abs(a - b) <= FLOAT_REL_TOL * max(abs(a), abs(b))
    if isinstance(a, (int, float)) and isinstance(b, float) and not isinstance(a, bool):
        return _close(b, a)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not _close(g, w):
            return f"row {i}: {g!r} != expected {w!r}"
    return None


# --- DuckDB side ---------------------------------------------------------------

VIRTUAL_DATA = os.path.join("opteryx_spark", "data")

# $planets: id, name, gravity and moon count from the NASA planetary fact
# sheet (public domain) — the values the engine's $planets relation serves
PLANETS = [
    (1, "Mercury", "3.7", 0), (2, "Venus", "8.9", 0), (3, "Earth", "9.8", 1),
    (4, "Mars", "3.7", 2), (5, "Jupiter", "23.1", 79), (6, "Saturn", "9.0", 82),
    (7, "Uranus", "8.7", 27), (8, "Neptune", "11.0", 14), (9, "Pluto", "0.7", 5),
]


def duck_connect(data_dir: str, root: str):
    """DuckDB connection with every benchmark table as a view; ``$name``
    virtual datasets become ``v_name`` views."""
    import duckdb

    con = duckdb.connect()
    for fname in sorted(os.listdir(data_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(data_dir, fname)
            con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')")
    values = ", ".join(f"({i}, '{n}', CAST({g} AS DECIMAL(3,1)), {m})" for i, n, g, m in PLANETS)
    con.execute(
        f"CREATE VIEW v_planets AS SELECT * FROM (VALUES {values}) "
        "AS t(id, name, gravity, numberOfMoons)"
    )
    sats = os.path.join(root, VIRTUAL_DATA, "satellites.parquet")
    con.execute(f"CREATE VIEW v_satellites AS SELECT * FROM read_parquet('{sats}')")
    return con


def sql_literal(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def duck_sql(sql: str, params: dict) -> str:
    """The same statement for DuckDB: ``:name`` parameters inlined as
    literals and ``$name`` virtual datasets renamed to their views."""
    for k in sorted(params, key=len, reverse=True):
        sql = re.sub(rf":{re.escape(k)}\b", lambda _m, s=sql_literal(params[k]): s, sql)
    return re.sub(r"\$(\w+)", r"v_\1", sql)


def check_sql_results(results: list[dict], data_dir: str, root: str) -> list[dict]:
    """Verdict per result: ``{"op_id", "error"}``, error None when it matches."""
    con = duck_connect(data_dir, root)
    verdicts = []
    for r in results:
        try:
            want = canon_rows(con.execute(r["duck_sql"]).fetchall())
        except Exception as exc:  # noqa: BLE001 — reported as this op's failure
            verdicts.append({"op_id": r["op_id"], "error": f"DuckDB oracle failed: {exc}"})
            continue
        got = rows_from_json(r["rows"])
        verdicts.append({"op_id": r["op_id"], "error": rows_match(got, want)})
    return verdicts


def rows_from_json(rows: list[list]) -> list[tuple]:
    """Canonical rows back from JSON, which turned their tuples into lists."""
    def untag(v):
        return tuple(untag(x) for x in v) if isinstance(v, list) else v

    return [untag(r) for r in rows]


def main(argv: list[str]) -> int:
    in_path, out_path = argv
    with open(in_path) as f:
        job = json.load(f)
    verdicts = check_sql_results(job["results"], job["data_dir"], job["root"])
    with open(out_path, "w") as f:
        json.dump(verdicts, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
