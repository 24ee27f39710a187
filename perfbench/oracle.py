"""Checks the engine's first result of each SQL lane against the lane's
DuckDB oracle (SparkEntry.oracleSql) over the same generated tables.

Both sides are brought to one canonical form, as the engine side does in
perfbench.Canon: numbers as floats, timestamps as 'YYYY-MM-DD HH:MM:SS[.ffffff]'
in UTC, dates as ISO strings, nested values as lists, rows sorted. Columns
must match by name (in any order); floats match within 1e-9 relative.
"""
import datetime
import decimal
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (datetime.time, datetime.timedelta)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def key(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        return v.__repr__() if v != v or v in (float("inf"), float("-inf")) else f"{v:.6g}"
    if isinstance(v, list):
        return "[" + "\1".join(key(x) for x in v) + "]"
    return str(v)


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b) or abs(a - b) <= 1e-9 + 1e-9 * abs(b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def normalise(columns, rows):
    """Columns sorted by name, values canonical, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[canon(r[i]) for i in order] for r in rows]
    return [columns[i] for i in order], sorted(out, key=lambda r: [key(x) for x in r])


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a description of the first difference."""
    gc, gr = normalise(got_cols, got_rows)
    wc, wr = normalise(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows vs {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if not close(g, w):
            return f"row {i}: {g} vs {w}"
    return None


def check(run, run_dir, data):
    """Maps each lane whose result the oracle rejects to the reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failures = {}
    for lane, sql in sorted(run["oracles"].items()):
        path = os.path.join(run_dir, "results", f"{lane}.json")
        if not os.path.exists(path):
            continue
        got = json.load(open(path))
        try:
            cur = con.execute(sql)
            want_cols = [d[0] for d in cur.description]
            want_rows = cur.fetchall()
        except Exception as e:  # the oracle itself failing is a failed check
            failures[lane] = f"oracle error: {e}"
            continue
        d = compare(got["columns"], got["rows"], want_cols, want_rows)
        if d:
            failures[lane] = f"oracle mismatch: {d}"
    return failures
