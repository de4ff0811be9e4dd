"""DuckDB oracle check of registry query results.

Each query's oracle SQL runs in DuckDB over the same parquet tables the
engine read. The engine's result (one parquet directory per query) must
match it under the engine's own compare rules: columns compared by name,
rows in order, floats within rtol 1e-9, every other value by its string
form, and an integer column never standing in for a float one.
"""
import glob
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_INT = {"tinyint", "smallint", "integer", "int", "bigint", "hugeint",
        "utinyint", "usmallint", "uinteger", "ubigint", "uhugeint",
        "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
        "uint64"}
_FLOAT = {"float", "double", "real", "halffloat", "float32", "float64"}


def _kind(t):
    t = str(t).lower()
    if t in _INT:
        return "int"
    if t in _FLOAT:
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def compare(con, sql, result_dir):
    """None when the engine's result matches the oracle, else why not."""
    rel = con.sql(sql)
    du_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    du = rel.df()
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result parquet"
    sp = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    sp_types = {f.name: str(f.type) for f in pq.read_schema(files[0])}
    sp = sp.reindex(sorted(sp.columns), axis=1)
    du = du.reindex(sorted(du.columns), axis=1)
    if list(sp.columns) != list(du.columns):
        return f"columns {list(sp.columns)} != {list(du.columns)}"
    if sp.shape != du.shape:
        return f"shape {sp.shape} != {du.shape}"
    numeric = {"int", "float", "decimal"}
    for c in sp.columns:
        ks, kd = _kind(sp_types.get(c, "")), _kind(du_types.get(c, ""))
        if ks != kd and ks in numeric and kd in numeric:
            return f"column {c}: type {sp_types.get(c)} != {du_types.get(c)}"
        a, b = sp[c], du[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            if not np.allclose(a.astype(float).values, b.astype(float).values,
                               rtol=1e-9, atol=1e-12, equal_nan=True):
                return f"column {c}: values differ"
        elif not (a.astype(str).values == b.astype(str).values).all():
            return f"column {c}: values differ"
    return None


def check(tables_dir, results_dir, queries, threads):
    """{name: reason} for every query whose result differs."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for q in queries:
        t0 = time.time()
        try:
            why = compare(con, q["sql"], os.path.join(results_dir, q["name"]))
        except Exception as e:  # an oracle that cannot run checks nothing
            why = f"oracle failed: {e}"
        if why:
            bad[q["name"]] = why
        print(f"[perfbench] oracle {q['name']}: {time.time() - t0:.2f} s",
              file=sys.stderr)
    con.close()
    return bad
