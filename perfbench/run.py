#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine together with the benchmark's JVM program (`perfbench/build.sbt`);
later runs reuse the build while the sources are unchanged. Each run
stages its seeded inputs under a fresh run directory, starts one JVM
(`local[cores]`, cores from `workloads.json`), checks the outputs and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the same seed
traced, then untraced at `local[1]` and, when this checkout has recorded
fewer than three untraced runs, untraced at `local[cores]` (each baseline
only while the time limit leaves room for it), and prints the per-layer
metrics of the traced run; the full report and the spans file are kept
under `.perfbench/reports/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import checks  # noqa: E402
import datagen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
STATE = os.path.join(REPO, ".perfbench")
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 175  # per invocation, counted from the end of the build
T0 = time.time()
# The end-to-end metrics every workload reports (BENCHMARK.json `end_to_end`).
END_TO_END = ["setup_s", "cold_pass_s", "op_ms", "op_p90_ms", "aux_ms",
              "ops_per_s", "retained_heap_mb"]
UNITS = {"setup_s": "s", "cold_pass_s": "s", "op_ms": "ms", "op_p90_ms": "ms",
         "aux_ms": "ms", "ops_per_s": "1/s", "retained_heap_mb": "MB"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_cores(cfg):
    """Spark task slots for a workload: its `cores_share` of the vCPUs."""
    return max(1, int(nproc() * cfg["cores_share"]))


def driver_mem():
    """Heap as the tier-1 test command sizes it: half the RAM, 2..8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(REPO, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for p in files:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt, offline, once per source state."""
    stamp = os.path.join(STATE, "build.stamp")
    digest = sources_digest()
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(STATE, exist_ok=True)
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        # resolve exactly as the repository's own test command does
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    log("building (sbt compile) ...")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.1f} s")
    return classes


def host_counters():
    """CPU steal (ms, all CPUs) and CPU pressure stall (ms) so far."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) * 1000 // os.sysconf("SC_CLK_TCK")
    psi = 0
    try:
        with open("/proc/pressure/cpu") as f:
            psi = int(f.readline().split("total=")[1]) // 1000
    except OSError:
        pass
    return steal, psi


def host_info():
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    spark = [os.path.basename(p)[len("spark-core_2.13-"):-len(".jar")]
             for p in glob.glob(os.path.join(SPARK_JARS, "spark-core_2.13-*.jar"))]
    return {"nproc": nproc(), "heap": driver_mem(), "jdk": jdk[0] if jdk else "?",
            "spark": spark[0] if spark else "?"}


def stage_inputs(workload, cfg, seed, data_dir):
    inputs = cfg.get("inputs", {})
    if "tables_sf" in inputs:
        datagen.tables(data_dir, seed, inputs["tables_sf"])
    os.makedirs(data_dir, exist_ok=True)


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classes, workload, cfg, seed, seconds, trace, cpus, tag):
    """One isolated run: fresh run directory for inputs, warehouse,
    checkpoints, stores, Spark scratch and the JVM temp dir; deleted at
    exit, with any bytes it could not delete reported."""
    t_start = time.time()
    steal0, psi0 = host_counters()
    log(f"{tag}: run started")
    root = os.path.join(STATE, "runs", f"{workload}-{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(root, d))
    try:
        stage_inputs(workload, cfg, seed, data)
        log(f"{tag}: inputs staged in {time.time() - t_start:.2f} s")
        out = os.path.join(root, "result.json")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xmx{driver_mem()}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
                f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/local",
                f"-Dspark.sql.warehouse.dir={root}/warehouse",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
                "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
                "-cp", f"{classes}:{REPO}/src/main/resources:{SPARK_JARS}/*", "perfbench.Main",
                "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--data", data, "--root", root, "--out", out] +
               [x for k, v in cfg.get("params", {}).items() for x in ("--param", f"{k}={v}")])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=driver_mem())
        env.pop("SPARK_LOCAL_DIRS", None)
        with open(os.path.join(root, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                                 stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - T0)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                # never leave the JVM behind: on a timeout or a signal
                if p.poll() is None:
                    p.kill()
                    p.wait()
        with open(os.path.join(root, "jvm.log")) as f:
            jvm_log = f.read()
        for line in jvm_log.splitlines():
            if line.startswith("[perfbench]"):
                log(f"{tag}: {line[len('[perfbench] '):]}")
        if rc == "timeout":
            raise TimeoutError(f"{tag}: stopped at the run's time limit")
        if rc != 0 or not os.path.exists(out):
            raise RuntimeError(f"JVM run failed ({rc}):\n{jvm_log[-4000:]}")
        with open(out) as f:
            res = json.load(f)
        res["setup_s"] = res["first_op_ms"] / 1000.0 - t_start
        res["check"] = checks.verify(workload, res, data)
        steal1, psi1 = host_counters()
        res["host"] = dict(host_info(), steal_ms=steal1 - steal0, cpu_psi_ms=psi1 - psi0,
                           wall_s=time.time() - t_start)
        spans = out[:-len(".json")] + ".spans.jsonl"
        if os.path.exists(spans):
            keep = os.path.join(STATE, "reports")
            os.makedirs(keep, exist_ok=True)
            res["spans_file"] = shutil.copy(spans, os.path.join(
                keep, f"{workload}-seed{seed}.spans.jsonl"))
        return res
    finally:
        shutil.rmtree(root, ignore_errors=True)
        left = dir_bytes(root) if os.path.exists(root) else 0
        if left:
            log(f"{left} bytes left behind in {root}")


def e2e(res):
    m = dict(res["metrics"], setup_s=res["setup_s"])
    return {k: m[k] for k in END_TO_END}


def counts(res):
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed_ops"]) + int(res["check"]["failed_ops"]))
    return attempted, failed


def print_e2e(label, res):
    a, f = counts(res)
    m = dict(res["metrics"], setup_s=res["setup_s"])
    shown = " ".join(f"{k}={v:.4g}" for k, v in m.items()
                     if isinstance(v, (int, float)) and not isinstance(v, bool))
    print(f"{label}: {shown} error_rate={f / max(1, a):.4g} ({f}/{a})")
    print(f"{label}: checks {json.dumps(res['check']['summary'], sort_keys=True)}")
    if res["errors"]:
        print(f"{label}: errors {json.dumps(res['errors'])}")
    print(f"{label}: host {json.dumps(res['host'], sort_keys=True)}")


def main():
    # a terminated run still deletes its run directory and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isfile(os.path.join(REPO, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a checkout of the repository (engine sources not found)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    cfg = workloads[args.workload]
    classes = build()
    global T0
    T0 = time.time()
    n = spark_cores(cfg)
    try:
        # untraced results are kept per workload configuration and run length
        key = hashlib.sha256(json.dumps([cfg, args.seconds], sort_keys=True).encode())
        history = os.path.join(STATE, "history", f"{args.workload}-{key.hexdigest()[:12]}.jsonl")
        if not args.trace:
            res = run_jvm(classes, args.workload, cfg, args.seed, args.seconds, False, n, "e2e")
            print_e2e(f"{args.workload} local[{n}]", res)
            attempted, failed = counts(res)
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e(res).items()}
            correct = res["check"]["ok"]
            if correct:
                os.makedirs(os.path.dirname(history), exist_ok=True)
                with open(history, "a") as f:
                    f.write(json.dumps({"seed": args.seed, "e2e": e2e(res)}) + "\n")
        else:
            # tracing overhead is read against the medians of the untraced
            # runs this checkout has made; with fewer than three, one
            # untraced run of the same seed is made if the time allows
            past = []
            if os.path.exists(history):
                with open(history) as f:
                    past = [json.loads(l)["e2e"] for l in f if l.strip()]
            results = {"traced": run_jvm(classes, args.workload, cfg, args.seed, args.seconds,
                                         True, n, "traced")}
            print_e2e(f"{args.workload} traced", results["traced"])

            def time_for_another():
                left = RUN_LIMIT_S - (time.time() - T0)
                return left > 1.3 * results["traced"]["host"]["wall_s"]

            def baseline(label, cpus, tag):
                """An optional untraced run; one cut at the time limit is left out."""
                try:
                    results[label] = run_jvm(classes, args.workload, cfg, args.seed,
                                             args.seconds, False, cpus, tag)
                    print_e2e(f"{args.workload} {label}", results[label])
                except TimeoutError as e:
                    log(str(e))
                return label in results
            # the single-threaded baseline, when the run's time allows it
            if time_for_another():
                baseline("local[1]", 1, "local1")
            if len(past) >= 3:
                base = {k: statistics.median(p[k] for p in past) for k in END_TO_END}
                base_label = f"untraced median of {len(past)} runs"
            elif time_for_another() and baseline("untraced", n, "untraced"):
                base, base_label = e2e(results["untraced"]), "untraced, same seed"
            else:
                base = {k: float("nan") for k in END_TO_END}
                base_label = "none recorded in this checkout and no time left for one"
            report = trace_report(args, results, base, base_label, n)
            attempted = sum(counts(r)[0] for r in results.values())
            failed = sum(counts(r)[1] for r in results.values())
            correct = all(r["check"]["ok"] for r in results.values())
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.items()}
    except (RuntimeError, TimeoutError) as e:
        fail(str(e), 4)
    print(json.dumps({"correct": bool(correct and failed == 0), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def trace_report(args, results, base, base_label, n):
    """Human-readable layer report; returns the per-layer metrics."""
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    traced = results["traced"]
    single = e2e(results["local[1]"]) if "local[1]" in results else \
        {k: float("nan") for k in END_TO_END}
    per_layer = traced["per_layer"]
    out = {}
    for layer in layers["layers"]:
        for name, (unit, _better) in layer["metrics"].items():
            out[name] = (float(per_layer.get(name, 0.0)), unit)
    lines = [f"== {args.workload} seed {args.seed}: layer report (traced, local[{n}])"]
    lines.append(f"end-to-end: untraced = {base_label}")
    lines.append("metric             untraced     traced  overhead   local[1]")
    for k in END_TO_END:
        u, t, s = base[k], e2e(traced)[k], single[k]
        ovh = (t / u - 1) * 100 if u else float("nan")
        lines.append(f"{k:16s} {u:10.4g} {t:10.4g} {ovh:+8.1f}% {s:10.4g}")
    lines.append("layer self time per op (ms, median): " + json.dumps(
        {k: round(v, 2) for k, v in traced["layer_self_ms"].items()}))
    for layer in layers["layers"]:
        vals = " ".join(f"{m}={per_layer.get(m, 0.0):.4g}" for m in layer["metrics"])
        lines.append(f"[{layer['name']}] {vals}")
    lines.append("top operators by SQLMetric time (ms): " + json.dumps(traced["top_operators_ms"]))
    lines.append(f"accumulator-update errors: {len(traced['accum_update_errors'])} sites " +
                 json.dumps(traced["accum_update_errors"][:10]))
    lines.append(f"jobs without an operation: {traced['unattributed_jobs']}")
    # which operations reach the Materialize seams and the store reads
    by_name = {}
    with open(traced["spans_file"]) as f:
        for span in map(json.loads, f):
            if "parent" in span and span["parent"] is None and span["warm"]:
                by_name.setdefault(span["name"], []).append(span["metrics"])
    keys = ("materialized_rdds", "checkpoint_jobs", "probe_exchanges")
    per_name = {n: {k: statistics.median(m.get(k, 0.0) for m in ms) for k in keys}
                for n, ms in sorted(by_name.items())}
    lines.append("per operation name (median of warm runs): " + json.dumps(per_name))
    cvn = traced["checks"].get("count_vs_noop_ms")
    if cvn:
        lines.append("count() vs noop write (ms): " + json.dumps(
            {q: [round(c, 1), round(w, 1)] for q, (c, w) in sorted(cvn.items())}))
    lines.append(f"spans: {traced.get('spans_file')}")
    print("\n".join(lines))
    keep = os.path.join(STATE, "reports")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{args.workload}-seed{args.seed}.report.json"), "w") as f:
        json.dump({"lines": lines, "runs": results}, f, indent=1, default=str)
    return out


if __name__ == "__main__":
    main()
