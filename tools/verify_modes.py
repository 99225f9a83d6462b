#!/usr/bin/env python3
"""Oracle pass matrix of the engine's two scale modes.

Usage: verify_modes.py SFDIR [--work DIR] [--seeds 1,2,3] [--sf 0.1]
                       [--modes auto,wide]

For each dataset it runs `graft.Verify` once per `spark.graft.scale` mode
(`sbt -Dspark.graft.scale=<mode> "runMain graft.Verify <sf> <out>"`), then
`tools/check_oracle.py` over the output, and prints a mode x dataset matrix
of oracle passes plus every query that fails in some cell. A query whose rows
under another mode equal its rows under `auto` (check_oracle's canonical
order, exact values) takes `auto`'s verdict; only the others are sent to
DuckDB again.

Datasets: the fixture tables in SFDIR (none when SFDIR is ''), and one
table set per seed generated at scale factor --sf by `perfbench/datagen.py`'s
`tables(out, seed, sf)` (written under --work, reused when already there). `auto` takes the
small-input branch wherever an input is narrower than the cluster; `wide`
takes the corpus-scale branch everywhere, so the gate value-checks both.

Exit status 1 when a query that matches the oracle under `auto` on a dataset
does not under another mode.

Memory: some oracle SQLs need more than a 16 GB host has at sf 0.1 (the
check_oracle process was OOM-killed there); ORACLE_MEMORY_LIMIT caps only
DuckDB's buffer pool.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import datagen  # noqa: E402  (perfbench/datagen.py, imported as is)
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import canon  # noqa: E402

LINE = re.compile(r"^\[(OK|FAIL|DIFF|rows-only)\] ([^:]+):")


def verify(sf_dir, out_dir, mode, log):
    """graft.Verify under `mode`; the Spark log goes to `log`."""
    with open(log, "w") as f:
        subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dspark.graft.scale={mode}",
             f"runMain graft.Verify {sf_dir} {out_dir}"],
            cwd=ROOT, stdout=f, stderr=subprocess.STDOUT, check=True)


def rows(out_dir, name):
    """A Verify output in check_oracle's canonical order, or None."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(f) for f in files],
                           ignore_index=True))


def same_rows(out_a, out_b, name):
    a, b = rows(out_a, name), rows(out_b, name)
    if a is None or b is None:
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        return True
    except AssertionError:
        return False


def oracle(sf_dir, out_dir, names=None):
    """({query: passed} over the oracle-gated queries, check_oracle output).
    With `names`, only those queries are checked."""
    if names is not None:
        sub = out_dir + ".recheck"
        shutil.rmtree(sub, ignore_errors=True)
        os.makedirs(sub)
        for n in names:
            os.symlink(os.path.join(out_dir, n), os.path.join(sub, n))
        shutil.copy(os.path.join(out_dir, "oracle_sql.json"), sub)
        with open(os.path.join(sub, "queries.json"), "w") as f:
            json.dump(sorted(names), f)
        out_dir = sub
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         sf_dir, out_dir], capture_output=True, text=True)
    status = {}
    for line in p.stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(1) != "rows-only":
            ok = m.group(1) == "OK"
            status[m.group(2)] = status.get(m.group(2), True) and ok
    if p.returncode < 0:  # e.g. the OOM killer: the cell counts what ran
        print(f"[verify_modes] check_oracle killed by signal {-p.returncode} "
              f"after {len(status)} queries", file=sys.stderr, flush=True)
    return status, p.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", default="/tmp/verify_modes")
    ap.add_argument("fixtures")
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--modes", default="auto,wide")
    a = ap.parse_args()
    modes = a.modes.split(",")
    datasets = [(os.path.basename(a.fixtures.rstrip("/")), a.fixtures)] \
        if a.fixtures else []
    for seed in filter(None, a.seeds.split(",")):
        name = f"seed{seed}_sf{a.sf:g}"
        d = os.path.join(a.work, "tables", name)
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            datagen.tables(d, int(seed), a.sf)
        datasets.append((name, d))

    results = {}
    for name, sf_dir in datasets:
        for mode in modes:
            out = os.path.join(a.work, "out", f"{name}_{mode}")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            verify(sf_dir, out, mode, out + ".log")
            base = results.get(("auto", name)) if mode != "auto" else None
            if base is None:
                status, text = oracle(sf_dir, out)
            else:
                auto_out = os.path.join(a.work, "out", f"{name}_auto")
                differ = [q for q in base if not same_rows(auto_out, out, q)]
                status, text = oracle(sf_dir, out, differ) if differ else ({}, "")
                status.update({q: ok for q, ok in base.items() if q not in differ})
                text += f"{len(base) - len(differ)} queries have auto's rows\n"
            with open(out + ".oracle.txt", "w") as f:
                f.write(text)
            results[(mode, name)] = status
            print(f"[verify_modes] {mode:5s} {name}: "
                  f"{sum(status.values())}/{len(status)}", flush=True)

    width = max(len(n) for n, _ in datasets)
    print(f"\n{'mode':6s} " + " ".join(f"{n:>{width}s}" for n, _ in datasets))
    for mode in modes:
        cells = [results[(mode, n)] for n, _ in datasets]
        print(f"{mode:6s} " + " ".join(
            f"{f'{sum(s.values())}/{len(s)}':>{width}s}" for s in cells))
    regressions = 0
    for name, _ in datasets:
        for mode in modes:
            failed = sorted(q for q, ok in results[(mode, name)].items() if not ok)
            if failed:
                print(f"{mode} {name} misses: {', '.join(failed)}")
            base = results.get(("auto", name), {})
            lost = sorted(q for q, ok in results[(mode, name)].items()
                          if not ok and base.get(q))
            if lost:
                regressions += len(lost)
                print(f"{mode} {name} misses what auto matches: {', '.join(lost)}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
