"""DuckDB oracle expectations and the comparison of gate outputs with them.

The encoding is the canonical one of `scripts/oracle_check.py`: the Spark
side is read with pandas/pyarrow, the oracle side comes from DuckDB's
`.df()`, every value is encoded per type, columns are sorted by name and
rows by their encoded values. An expectation is stored as the column list,
the row count and a SHA-256 of the sorted rows, cached per input.
"""
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def enc(v):
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (np.ndarray, list)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    if v is pd.NaT:
        return "None"
    return str(v)


def digest(df):
    """(sorted column names, row count, SHA-256 of the sorted encoded rows)."""
    cols = sorted(df.columns)
    rows = sorted(tuple(enc(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode("utf-8"))
        h.update(b"\n")
    return {"cols": cols, "rows": len(rows), "sha256": h.hexdigest()}


def expectations(input_dir, oracle_sql, cache_path):
    """Oracle digests for every gate in `oracle_sql`, cached in `cache_path`.

    A cached entry is reused only when the SQL text is unchanged."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    changed = False
    for gate, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode("utf-8")).hexdigest()
        if cache.get(gate, {}).get("sql") == key:
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
                name = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        try:
            cache[gate] = dict(digest(con.execute(sql).df()), sql=key)
        except duckdb.Error as e:
            cache[gate] = {"sql": key, "error": str(e)[:300]}
        changed = True
    if con is not None:
        con.close()
    if changed:
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return cache


def check(out_dir, expected):
    """None when the gate output in `out_dir` matches `expected`, else why not."""
    if expected is None:
        return "no oracle"
    if "error" in expected:
        return "oracle failed: " + expected["error"]
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no output"
    got = digest(pd.read_parquet(files))
    for k in ("cols", "rows", "sha256"):
        if got[k] != expected[k]:
            return f"{k} differ: got {str(got[k])[:120]}, expected {str(expected[k])[:120]}"
    return None
