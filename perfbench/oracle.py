"""Output check against the DuckDB oracle.

Each op's output, written by the harness outside the timed region, is
compared with its `SparkEntry.oracleSql` evaluated by DuckDB on the same
generated inputs. Both sides are canonicalised the way
`dev/check_oracle.py` does it (columns sorted by name, rows sorted,
floats rounded to 9 digits, timestamps as text) and compared by digest.
Oracle digests are cached per (workload, seed, scale, SQL).
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    c = canon(df)
    h = hashlib.sha256(json.dumps(list(c.columns)).encode())
    h.update(c.to_csv(index=False).encode())
    return {"digest": h.hexdigest(), "rows": len(c)}


def _connect(input_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    return con


def check(input_dir, check_dir, oracle_sql, ops, cache_path):
    """{op: failure reason} for every op whose output does not match."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = _connect(input_dir)
    bad = {}
    for op in ops:
        sql = oracle_sql.get(op)
        files = sorted(glob.glob(os.path.join(check_dir, op, "*.parquet")))
        if not files:
            bad[op] = "no output"
            continue
        if sql is None:
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        want = cache.get(op)
        if want is None or want.get("sql") != key:
            try:
                want = dict(digest(con.execute(sql).df()), sql=key)
            except duckdb.InterruptException:
                raise
            except duckdb.Error as e:
                bad[op] = f"oracle error: {e}"
                continue
            cache[op] = want
        got = digest(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        if got["digest"] != want["digest"]:
            bad[op] = f"mismatch: rows got={got['rows']} expected={want['rows']}"
    con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_path)
    return bad
