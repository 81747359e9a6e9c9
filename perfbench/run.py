#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness (perfbench/build.py), generates the
seeded inputs, runs the workload in one JVM on local[4], checks the
outputs and prints one metric per line, then as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones (and
keeps the run's spans under .bench_build/traces/). Exits 1 when a check
fails, 2 when the build fails, 3 on a time-out.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 175

# the iterative GraphOps/TextOps loops, whose eager build dominates their wall
ITERATIVE = ["q_adamic_adar", "q_kcore", "q_closeness", "q_ppr", "q_winnow_pairs",
             "q_dedup_minhash"]

# every 10th, by name, of the 204 queries priced under 1 s in BENCH_FULL.json
LIGHT = [
    "q_ab_lift", "q_bag_ops", "q_burstiness", "q_collocations", "q_date_funcs",
    "q_doc_entropy", "q_ewma", "q_funnel_time", "q_inverted_index", "q_js_divergence",
    "q_leakage", "q_mrl_recall", "q_percentile", "q_quality_tiers", "q_robust_stats",
    "q_serving_kv", "q_small_qty_revenue", "q_string_funcs2", "q_top_movers", "q_validate",
    "q_window_sliding",
]

# tables come from one fixed seed per scale factor, so their oracle
# results can be cached; the run's seed picks the stream's rows
TABLE_SEED = 42

# scale factor of the generated tables per workload
WORKLOADS = {
    "stream_steady": {"sf": 0.1},
    "batch_cold": {"sf": 0.001, "queries": ITERATIVE + LIGHT},
}

# the JVM's generator drops one stream file every 4 s
STREAM_WARMUP_FILES = 5
STREAM_PERIOD_S = 4.0

JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_steal_s():
    """Seconds the hypervisor took from this machine's CPUs so far, or 0."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # for the benchmark's own tests
    ap.add_argument("--inject-fault", type=int, choices=[0, 1], default=0,
                    help="corrupt one expected output, so the checks must fail")
    return ap.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    t_start = time.time()
    spec = WORKLOADS[args.workload]
    sf = spec["sf"]
    try:
        classes = build.build(ROOT)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    log(f"built in {time.time() - t_start:.1f} s")

    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    g0 = time.time()
    jvm_args = ["--workload", args.workload, "--trace", str(args.trace),
                "--data", data, "--work", work, "--out", os.path.join(work, "record.json"),
                "--inject-fault", str(args.inject_fault)]
    if args.workload == "stream_steady":
        tables = datagen.write_tables(data, sf, TABLE_SEED, names=["customer", "events"])
        n_files = STREAM_WARMUP_FILES + max(1, int(args.seconds / STREAM_PERIOD_S))
        stage = os.path.join(work, "stage")
        datagen.write_stream_files(stage, tables["events"], n_files, args.seed)
        jvm_args += ["--stage", stage, "--warmup-files", str(STREAM_WARMUP_FILES)]
    else:
        datagen.write_tables(data, sf, TABLE_SEED)
        jvm_args += ["--queries", ",".join(spec["queries"])]
    gen_s = time.time() - g0

    cp = os.pathsep.join([classes] + build.spark_jars())
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", cp, "perfbench.Main"] + jvm_args
    j0 = time.time()
    steal0 = cpu_steal_s()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                              timeout=max(10, DEADLINE_S - (j0 - t_start)))
    except subprocess.TimeoutExpired:
        log("time-out: the workload did not finish in time")
        return 3
    if proc.returncode != 0:
        log(f"the JVM exited with {proc.returncode}")
        return 1
    log(f"workload ran in {time.time() - j0:.1f} s")
    steal_s = cpu_steal_s() - steal0
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    # input generation is the harness's own work, not the program's set-up
    jvm_start_s = rec["main_entry_ms"] / 1e3 - j0
    setup_s = jvm_start_s + statistics.median(rec["setup_cycles_s"])

    if args.workload == "stream_steady":
        values, info = metrics.stream_metrics(rec, setup_s)
        attempted = len(rec["drops"])
        failures = {f: "sink check failed" for f in rec["failed_files"]}
        failures.update({f: "never committed" for f in info["uncommitted_files"]})
        aliases = {"stream.latency_p50_s": "latency_p50_s", "stream.latency_p95_s": "latency_p95_s",
                   "stream.batch_p50_s": "cycle_s", "stream.achieved_eps": "throughput_per_s",
                   "peak_heap_mb": "peak_heap_mb"}
    else:
        values, info = metrics.batch_metrics(rec, setup_s)
        failures = {q: "threw" for q in rec["failed"]}
        o0 = time.time()
        checked = [q for q in rec["queries"] if q not in failures]
        failures.update(oracle.check(data, os.path.join(work, "out"), checked, rec["oracle_sql"],
                                     os.path.join(ROOT, ".bench_build", "oracle"),
                                     inject_fault=bool(args.inject_fault)))
        attempted = len(rec["runs"]) + len(rec["failed"])
        log(f"oracle checked in {time.time() - o0:.1f} s")
        aliases = {"batch.total_s": "cycle_s", "batch.query_p50_s": "latency_p50_s",
                   "batch.query_p95_s": "latency_p95_s", "peak_heap_mb": "peak_heap_mb"}
    failed = len(failures)

    info.update({"sf": sf, "seed": args.seed, "gen_s": round(gen_s, 3),
                 "jvm_start_s": round(jvm_start_s, 3),
                 "setup_cycles_s": [round(x, 3) for x in rec["setup_cycles_s"]],
                 "cpu_steal_s": round(steal_s, 2),
                 "run_s": round(time.time() - t_start, 1)})
    for k, v in info.items():
        print(f"# {k} = {v}")
    for name, reason in sorted(failures.items()):
        print(f"# FAILED {name}: {reason}")
    units = {**metrics.END_TO_END, **metrics.PER_LAYER}
    for alias, name in aliases.items():
        print(f"{alias} = {values[name]:.6g} {units[name]}")
    print(f"failed_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    for name, unit in metrics.END_TO_END.items():
        print(f"{name} = {values[name]:.6g} {unit}")

    chosen = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    result = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in chosen.items()}
    if args.trace:
        traces = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "values": values,
                       "info": info, "runs": rec.get("runs", []), "totals": rec["totals"],
                       "spans": rec["spans"], "self_ms": metrics.self_times(rec["spans"])},
                      f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
