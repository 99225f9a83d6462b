#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       (env ORACLE_MEMORY_LIMIT, e.g. 6GB: DuckDB's memory cap)

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same parquet
tables, sorts columns by name + rows by value, and compares.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    # ORACLE_MEMORY_LIMIT (e.g. "6GB") caps DuckDB below its default of
    # 80% of physical memory, for hosts that run other work alongside
    limit = os.environ.get("ORACLE_MEMORY_LIMIT")
    con = duckdb.connect(config={"memory_limit": limit} if limit else {})
    for t in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = 0
    # Iterate the REGISTERED query list, not the output dirs: a query
    # that threw inside Verify writes no dir and must read as a gate
    # failure, never silently vanish. (queries.json is written by
    # graft.Verify; fall back to dir listing for pre-upgrade outputs.)
    qfile = os.path.join(out_dir, "queries.json")
    names = (json.load(open(qfile)) if os.path.exists(qfile)
             else sorted(os.listdir(out_dir)))
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            if name.endswith(".json"):
                continue
            failures += 1
            print(f"[FAIL] {name}: no output written (query threw in Verify)")
            continue
        spark_df = pd.concat(
            [pd.read_parquet(p) for p in glob.glob(os.path.join(d, "*.parquet"))],
            ignore_index=True) if glob.glob(os.path.join(d, "*.parquet")) else pd.DataFrame()
        if name not in oracle:
            print(f"[rows-only] {name}: rows={len(spark_df)}")
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except duckdb.Error as e:
            # an oracle that cannot run (e.g. out of memory) fails this
            # query only; the remaining queries are still checked
            failures += 1
            print(f"[FAIL] {name}: oracle SQL failed in DuckDB: {str(e)[:200]}")
            continue
        s, o = canon(spark_df), canon(duck_df)
        ok_schema = list(s.columns) == list(o.columns)
        ok_rows = len(s) == len(o)
        ok_vals = False
        if ok_schema and ok_rows:
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False,
                                              check_exact=True)
                ok_vals = True
            except AssertionError as e:
                print(f"[DIFF] {name}: {str(e)[:500]}")
        status = "OK" if (ok_schema and ok_rows and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"[{status}] {name}: schema={ok_schema} "
                  f"rows={len(s)}vs{len(o)} "
                  f"spark_cols={list(s.columns)} duck_cols={list(o.columns)} "
                  f"spark_dtypes={dict(s.dtypes.astype(str))} duck_dtypes={dict(o.dtypes.astype(str))}")
        else:
            print(f"[{status}] {name}: rows={len(s)}")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
