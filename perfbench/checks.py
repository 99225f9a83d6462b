"""Output checks, made off the clock after each run.

* Query workloads: every query's result against its `SparkEntry.oracleSql`
  in DuckDB over the same generated parquet, with the canonical sort of
  `tools/check_oracle.py` (columns by name, rows by value, exact compare).
* `ref_stream`: the final emitted window averages and the final CtrStore
  table against DuckDB over the generator's event log; no row may have
  been dropped by the watermark.

A failed check marks every operation of what it covers as failed.
"""
import glob
import math
import os

import duckdb
import pandas as pd


def connect(tmp_dir):
    """A DuckDB connection that stays small and spills only into the run
    directory."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(spark_df, duck_df):
    s, o = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False, f"columns {list(s.columns)} vs {list(o.columns)}, rows {len(s)} vs {len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
        return True, ""
    except AssertionError as e:
        return False, str(e)[:300]


def verify_queries(res, data):
    chk = res["checks"]
    con = connect(os.path.join(data, "..", "tmp"))
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    failed, bad = 0, {}
    for q in chk["queries"]:
        parts = glob.glob(os.path.join(chk["query_out"], q, "*.parquet"))
        sql = chk["oracle"].get(q)
        if not chk["written"].get(q) or sql is None:
            ok, why = False, "no output" if sql else "no oracle SQL"
        else:
            spark_df = (pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
                        if parts else pd.DataFrame())
            ok, why = frames_equal(spark_df, con.execute(sql).fetchdf())
        if not ok:
            failed += res["ops_by_name"].get(q, 0)
            bad[q] = why
    return {"ok": not bad, "failed_ops": failed,
            "summary": {"queries_checked": len(chk["queries"]), "oracle_mismatches": bad}}


def _lines(path, sep=","):
    with open(path) as f:
        return [l.rstrip("\n").split(sep) for l in f if l.strip()]


def _half_up(x):
    return math.floor(x + 0.5)


def verify_stream(res, data):
    chk = res["checks"]
    d = chk["stream_check"]
    # window averages: exact cents sums per 30 s window, as WindowedAverages
    win = {}
    for t, _, _, v in _lines(os.path.join(d, "orders.csv")):
        ws = int(t) // 30000 * 30000
        s2, s1, n = win.get(ws, (0, 0, 0))
        win[ws] = (s2 + _half_up(float(v) * 2 * 100), s1 + _half_up(float(v) * 100), n + 1)
    expected = {f"{ws}-{ws + 30000}-0": ((s2 / 100.0) / n, (s1 / 100.0) / n)
                for ws, (s2, s1, n) in win.items()}
    last = {}
    for b, key, value in _lines(os.path.join(d, "order_averages.csv"), "|"):
        if key in expected and int(b) >= last.get(key, (-1,))[0]:
            last[key] = (int(b), tuple(float(x) for x in value.split(",")))
    avg_bad = sorted(k for k, v in expected.items() if last.get(k, (0, None))[1] != v)

    # CTR: impressions LEFT JOIN clicks within ±60 s, counted per ad
    con = connect(os.path.join(data, "..", "tmp"))
    con.execute(f"""CREATE TABLE imp AS SELECT column0::BIGINT t, column1 imp, column3 ad
                    FROM read_csv('{d}/impressions.csv', header=false, all_varchar=true)""")
    clicks = os.path.getsize(os.path.join(d, "clicks.csv")) > 0
    con.execute(f"""CREATE TABLE clk AS SELECT column0::BIGINT t, column2 imp, column4 click
                    FROM read_csv('{d}/clicks.csv', header=false, all_varchar=true)"""
                if clicks else "CREATE TABLE clk (t BIGINT, imp VARCHAR, click VARCHAR)")
    want = {(a, int(i), int(c)) for a, i, c in con.execute("""
        SELECT ad, count(*) FILTER (WHERE click IS NULL), count(*) FILTER (WHERE click IS NOT NULL)
        FROM imp LEFT JOIN clk ON imp.imp = clk.imp
             AND clk.t BETWEEN imp.t - 60000 AND imp.t + 60000
        GROUP BY ad""").fetchall()}
    got = {(a, int(i), int(c)) for a, i, c in _lines(os.path.join(d, "ctr_table.csv"))}
    # the last update emitted per ad carries the final table's CTR
    upd = {}
    for b, ad, v in _lines(os.path.join(d, "ctr_updates.csv"), "|"):
        if int(b) >= upd.get(ad, (-1,))[0]:
            upd[ad] = (int(b), float(v))
    ctr_of = {a: (0.0 if c == 0 else math.inf if i == 0 else c / i) for a, i, c in got}
    upd_bad = sorted(a for a, v in ctr_of.items() if upd.get(a, (0, None))[1] != v)
    dropped = int(chk["watermark_dropped_rows"])
    by = res["ops_by_kind"]
    failed = ((by.get("orders_batch", 0) if avg_bad else 0) +
              (by.get("ctr_batch", 0) if (want != got or upd_bad or chk["query_failures"]) else 0) +
              (sum(by.values()) if dropped else 0))
    ok = not avg_bad and want == got and not upd_bad and dropped == 0 and not chk["query_failures"]
    return {"ok": ok, "failed_ops": failed, "summary": {
        "windows": len(expected), "window_mismatches": avg_bad[:10],
        "ctr_ads": len(want), "ctr_table_equal": want == got,
        "ctr_update_mismatches": upd_bad[:10], "watermark_dropped_rows": dropped,
        "query_failures": chk["query_failures"]}}


def verify(workload, res, data):
    if workload == "short_queries":
        return verify_queries(res, data)
    return verify_stream(res, data)
