"""Check analytics query results against their DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the same generated tables.

Rows are compared as multisets: same column names, same column types (up
to the timestamp / timestamptz pair that only differs in how parquet marks
UTC), same row count, and equal values after sorting, with a 1e-9 relative
tolerance on floats for aggregation-order drift.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TYPE_EQUIV = {("timestamp", "timestamp with time zone")}


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (1, f"{v:.9g}")
    return (2, repr(v))


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_equal(a[k], b[k]) for k in a)
    return a == b


def _rows(rel):
    cols = [c.lower() for c in rel.columns]
    types = dict(zip(cols, (str(t).lower() for t in rel.types)))
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple(_key(v) for v in r))
    return sorted(cols), types, rows


def check(tables_dir, out_dir, oracles):
    """Return a list of problems, one per query that does not match."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    problems = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no output to check")
            continue
        try:
            ocols, otypes, orows = _rows(con.sql(sql))
            scols, stypes, srows = _rows(con.sql(
                f"SELECT * FROM read_parquet({files!r})"))
        except Exception as e:  # an oracle or read error is a failed check
            problems.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if ocols != scols:
            problems.append(f"{name}: columns {scols}, oracle {ocols}")
            continue
        bad_types = [c for c in ocols if otypes[c] != stypes[c]
                     and (otypes[c], stypes[c]) not in TYPE_EQUIV
                     and (stypes[c], otypes[c]) not in TYPE_EQUIV]
        if bad_types:
            problems.append(f"{name}: column types differ on {bad_types}")
        elif len(orows) != len(srows):
            problems.append(f"{name}: {len(srows)} rows, oracle {len(orows)}")
        else:
            diff = next((i for i, (o, s) in enumerate(zip(orows, srows))
                         if not _equal(o, s)), None)
            if diff is not None:
                problems.append(f"{name}: row {diff} differs: {srows[diff]} "
                                f"vs oracle {orows[diff]}")
    return problems
