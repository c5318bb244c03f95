#!/usr/bin/env python3
"""Dev-only oracle pre-validation (mimics the driver's t2 check).

Usage: after `sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"`,
run  : python3 dev/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out

Prints each query's line as soon as it is checked, with the seconds its
oracle SQL and the canonicalisation of both sides took, then the
"N/M ok" total and the 10 slowest queries.

Not part of the Spark library — local feedback loop only.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize types for compare: timestamps -> iso strings, floats -> repr
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata tables are single files; ScaleCorpus writes
        # scaled tables as Spark DIRECTORIES of part files — glob those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = [n for n in sorted(os.listdir(out_dir)) if os.path.isdir(os.path.join(out_dir, n))]
    width = max((len(n) for n in names), default=0)
    fails = 0
    timings = []  # (oracle SQL s + canonicalisation s, oracle s, canon s, name)
    for name in names:
        result, oracle_s, canon_s = check(con, oracle, out_dir, name)
        timings.append((oracle_s + canon_s, oracle_s, canon_s, name))
        if not result.startswith(("OK", "ROWS_ONLY")):
            fails += 1
        print(f"{name:<{width}}  oracle={oracle_s:6.2f}s canon={canon_s:6.2f}s  {result[:400]}",
              flush=True)
    print(f"\n{len(names) - fails}/{len(names)} ok")
    print("slowest (oracle SQL + canonicalisation):")
    for total, o, c, name in sorted(timings, reverse=True)[:10]:
        print(f"  {name:<{width}}  {total:6.2f}s  (oracle {o:.2f}s, canon {c:.2f}s)")
    sys.exit(1 if fails else 0)

def check(con, oracle, out_dir, name):
    """(verdict, oracle SQL seconds, canonicalisation seconds) for one query."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").df() if files else pd.DataFrame()
    if name not in oracle:
        return f"ROWS_ONLY rows={len(got)}" + (" EMPTY!" if len(got) == 0 else ""), 0.0, 0.0
    t0 = time.perf_counter()
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        return f"ORACLE_SQL_ERROR {e}", time.perf_counter() - t0, 0.0
    t1 = time.perf_counter()
    g, e = canon(got), canon(exp)
    t2 = time.perf_counter()
    if list(g.columns) != list(e.columns):
        verdict = f"SCHEMA_MISMATCH got={list(g.columns)} exp={list(e.columns)}"
    elif len(g) != len(e):
        verdict = f"ROWCOUNT got={len(g)} exp={len(e)}"
    elif not g.equals(e):
        neq = (g != e) & ~(g.isna() & e.isna())
        bad_cols = [c for c in g.columns if neq[c].any()]
        idx = neq.any(axis=1)
        verdict = (f"VALUE_MISMATCH cols={bad_cols} nrows={int(idx.sum())} "
                   f"sample_got={g[idx].head(2).to_dict('records')} "
                   f"sample_exp={e[idx].head(2).to_dict('records')}")
    else:
        verdict = f"OK rows={len(g)}"
    return verdict, t1 - t0, t2 - t1

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
