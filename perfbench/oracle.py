"""DuckDB oracle check for batch_registry outputs.

The harness writes each query's output as parquet under OUT/<query>/, the
oracle SQL from SparkEntry.oracleSql as OUT/oracle.json and the events
directory it read as OUT/events_dir. `check(OUT)` runs every oracle over the
same events table and compares: columns by name, rows as a sorted multiset,
doubles canonicalized to 12 significant digits (the two engines may sum in
different orders). Returns a list of mismatch messages, empty when all match.
"""
import decimal
import json
import math
import os

import duckdb


def canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.12g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def rows_of(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x if x is not None else 0) for x in r))
    return [cols[i] for i in order], rows


def compare(name, got_rel, want_rel):
    got_cols, got = rows_of(got_rel)
    want_cols, want = rows_of(want_rel)
    if got_cols != want_cols:
        return f"{name}: columns {got_cols} vs oracle {want_cols}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows vs oracle {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"{name}: row {i} differs: {a} vs oracle {b}"
    return None


def check(out_dir):
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, "events_dir")) as f:
        events_dir = f.read().strip()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet/*.parquet'")
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            want = con.sql(sql)
            msg = compare(name, got, want)
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            msg = f"{name}: {type(e).__name__}: {e}"
        if msg:
            errors.append("batch_registry: " + msg)
    return errors
