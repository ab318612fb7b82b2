"""Output check for catalog steps: each step's Spark output must equal its
oracle SQL evaluated in DuckDB on the same generated inputs.

The compare is the one tools/selfcheck.py implements: columns sorted by name,
rows sorted by value, cells compared by repr. Oracle results are cached per
input spec (seed, sizes and generator source) and SQL text.
"""
import hashlib
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _table(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows), [cols[i] for i in order]


def _connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{input_dir}/{f}')")
    return con


def _oracle_rows(con, sql, cache_dir):
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
        return [tuple(r) for r in got["rows"]], got["cols"]
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows, cols = _table(rel.fetchall(), cols)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"rows": rows, "cols": cols}, f)
    os.replace(path + ".tmp", path)
    return rows, cols


def check(input_dir, out_dir, steps, cache_dir):
    """Return {step: None if its output is correct, else a reason}."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = _connect(input_dir)
    result = {}
    for step in steps:
        part = os.path.join(out_dir, step)
        if not os.path.isdir(part):
            result[step] = "no output written"
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{part}/*.parquet')")
        srows, scols = _table(rel.fetchall(), list(rel.columns))
        if step not in oracle:
            # the catalog's designed rows-only entries: no oracle twin exists
            result[step] = None if srows else "rows-only step returned no rows"
            continue
        try:
            orows, ocols = _oracle_rows(con, oracle[step], cache_dir)
        except duckdb.Error as e:
            result[step] = f"oracle error: {e}"
            continue
        if scols != ocols:
            result[step] = f"columns differ: spark={scols} oracle={ocols}"
        elif len(srows) != len(orows):
            result[step] = f"row counts differ: spark={len(srows)} oracle={len(orows)}"
        else:
            bad = sum(1 for a, b in zip(srows, orows) if a != b)
            result[step] = f"{bad}/{len(srows)} rows differ" if bad else None
    con.close()
    return result
