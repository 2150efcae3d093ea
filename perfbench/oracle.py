"""DuckDB oracle answers for the analytics workload.

The normalization matches the engine's oracle gate (tools/check_oracle.py):
columns sorted by name, floats rounded to 6 decimals, rows sorted, then a
SHA-256 prefix. Expected answers are computed before the engine runs.
"""
import glob
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{round(v, 6):.6f}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def frame_hash(lines):
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def answer(cols, rows):
    lines = norm_rows(cols, rows)
    return {"cols": sorted(cols), "rows": len(rows), "hash": frame_hash(lines), "lines": lines}


def expected(data_dir, sqls, threads=2):
    """{query: answer} for every query with oracle SQL."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    out = {}
    for q, sql in sqls.items():
        if sql is None:
            continue
        rows = con.execute(sql).fetchall()
        out[q] = answer([d[0] for d in con.description], rows)
    con.close()
    return out


def engine_answer(results_dir, q):
    files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
    con = duckdb.connect()
    try:
        if not files:
            return {"cols": [], "rows": 0, "hash": "", "lines": []}
        rows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        return answer([d[0] for d in con.description], rows)
    finally:
        con.close()
