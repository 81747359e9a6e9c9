#!/usr/bin/env python3
"""Markdown tables for perfbench/README.md from traced runs.

Usage: python3 perfbench/report.py [--seed N]

Runs batch_cold and stream_steady once untraced and once traced with
the same seed, then prints:
  - where the time goes in the iterative queries of batch_cold: each
    query's cold wall split into build (the query-function call) and
    exec (the final write), with jobs, codegen and shuffle;
  - the stream's micro-batch phases, and how much of the batch the sink
    spans account for;
  - the tracing overhead: traced minus untraced end-to-end values.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import ITERATIVE  # noqa: E402


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def trace_of(workload, seed):
    with open(os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed{seed}.json")) as f:
        return json.load(f)


def iterative_table(t):
    rows = [r for r in t["runs"] if r["query"] in ITERATIVE]
    print("| query | wall s | build s | exec s | build share | jobs | codegen compiles | shuffle written MB |")
    print("|---|---|---|---|---|---|---|---|")
    for r in sorted(rows, key=lambda r: -(r["build_s"] + r["exec_s"])):
        tot = [v for k, v in t["totals"].items() if k.split("/")[1:2] == [r["query"]]]
        jobs = sum(v["jobs"] for v in tot)
        mb = sum(v["shuffle_write_bytes"] for v in tot) / 1048576
        b, e = r["build_s"], r["exec_s"]
        print(f"| {r['query']} | {b + e:.2f} | {b:.2f} | {e:.2f} | {b / (b + e):.0%} | {jobs:.0f} "
              f"| {r['codegen_compiles']:.0f} | {mb:.1f} |")


def stream_table(t):
    layers = t["values"]
    names = ["EventPipeline.readEventStream.latestOffset_ms", "EventPipeline.readEventStream.getBatch_ms",
             "Enrich.transform.queryPlanning_ms", "EventPipeline.writeBatch.addBatch_ms",
             "EventPipeline.writeBatch.is_empty_ms", "EventPipeline.writeBatch.history_append_ms",
             "EventPipeline.upsertKeyedView.ms", "stream.commit.walCommit_ms",
             "stream.commit.commitOffsets_ms"]
    print("| phase (median over timed batches) | ms |")
    print("|---|---|")
    for n in names:
        print(f"| {n} | {layers[n]:.0f} |")
    print(f"| micro-batch (triggerExecution) | {layers['cycle_s'] * 1000:.0f} |")
    sink = sum(layers[f"EventPipeline.{n}"] for n in (
        "writeBatch.is_empty_ms", "writeBatch.history_append_ms", "upsertKeyedView.ms"))
    rest = layers["cycle_s"] * 1000 - sum(layers[n] for n in (
        "EventPipeline.readEventStream.latestOffset_ms", "EventPipeline.readEventStream.getBatch_ms",
        "Enrich.transform.queryPlanning_ms", "stream.commit.walCommit_ms",
        "stream.commit.commitOffsets_ms"))
    print(f"\nSink spans (is_empty + history_append + upsert): {sink:.0f} ms of the "
          f"{rest:.0f} ms left of the micro-batch after the source, planning and commit "
          f"phases ({sink / rest:.0%}).")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    overhead = {}
    for w in ("batch_cold", "stream_steady"):
        plain = run(w, args.seed, seconds, 0)
        run(w, args.seed, seconds, 1)
        traced = trace_of(w, args.seed)["values"]
        overhead[w] = {k: (traced[k], plain[k]) for k in plain}
    print("### batch_cold: where the time goes in the iterative queries (traced run, cold)\n")
    iterative_table(trace_of("batch_cold", args.seed))
    print("\n### stream_steady: micro-batch phases (traced run)\n")
    stream_table(trace_of("stream_steady", args.seed))
    print("\n### Tracing overhead (traced minus untraced, same seed)\n")
    print("| workload | metric | untraced | traced | overhead |")
    print("|---|---|---|---|---|")
    for w, ms in overhead.items():
        for k, (tr, pl) in ms.items():
            if k != "live_heap_mb":
                print(f"| {w} | {k} | {pl:.4g} | {tr:.4g} | {(tr - pl) / pl:+.1%} |")


if __name__ == "__main__":
    main()
