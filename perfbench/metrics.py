"""Turns the JVM's run record into the benchmark's metrics.

End-to-end metrics carry the same name on every workload:

  name              stream_steady                      batch_*
  setup_s           JVM start and the median session start and staging;
                    on the stream also the query start and the first
                    warm-up file's delay from scheduled drop to commit
  latency_p50_s     event creation -> batch commit     cold query wall (build + exec)
  cycle_s           median micro-batch                  the cold pass's total
                    (triggerExecution)
  throughput_per_s  timed events over first timed      timed queries over the sum
                    drop -> last commit                 of their walls
  live_heap_mb      heap after a full collection at the end of the timed window

The 95th percentile latency and the peak heap are per-layer metrics:
a window of a few stream files holds too few samples for a steady tail.
"""
import os
import re
import statistics

from datagen import STREAM_FILE_EVENTS

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "cycle_s": "s",
    "throughput_per_s": "1/s", "live_heap_mb": "MB",
}

SHARED_LAYERS = {"latency_p95_s": "s", "peak_heap_mb": "MB"}

STREAM_LAYERS = {
    "EventPipeline.writeBatch.addBatch_ms": "ms",
    "EventPipeline.writeBatch.is_empty_ms": "ms",
    "EventPipeline.writeBatch.history_append_ms": "ms",
    "EventPipeline.upsertKeyedView.ms": "ms",
    "EventPipeline.upsertKeyedView.rows_written_per_row_in": "ratio",
    "EventPipeline.readEventStream.latestOffset_ms": "ms",
    "EventPipeline.readEventStream.getBatch_ms": "ms",
    "EventPipeline.readEventStream.backlog_files_max": "files",
    "EventPipeline.readEventStream.rows_read_per_event": "ratio",
    "Enrich.transform.queryPlanning_ms": "ms",
    "stream.commit.walCommit_ms": "ms",
    "stream.commit.commitOffsets_ms": "ms",
    "stream.jobs_per_batch": "count",
    "stream.shuffle_write_kb_per_batch": "kB",
    "harness.gen_late_ms": "ms",
}

MODULES = ["GraphOps", "TextOps", "Relational", "Windows", "Analytics",
           "Functions2", "VectorOps"]

MODULE_FIELDS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "task_cpu_s": "s",
    "task_run_s": "s", "shuffle_write_mb": "MB", "gc_s": "s",
    "codegen_compiles": "count", "codegen_ms": "ms", "plan_ms": "ms",
}

PER_LAYER = dict(SHARED_LAYERS)
PER_LAYER.update(STREAM_LAYERS)
PER_LAYER.update({f"{m}.{f}": u for m in MODULES for f, u in MODULE_FIELDS.items()})


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------- stream

_PATH = re.compile(r'"path"\s*:\s*"([^"]+)"')
_BATCH = re.compile(r'"batchId"\s*:\s*(\d+)')


def source_log(checkpoint):
    """file basename -> micro-batch id, from the file source's log.

    The log under `sources/0` holds one file per batch, and every
    compaction interval a `<id>.compact` file that carries the entries
    of all earlier batches; both are read, so batches folded into a
    compact file keep their mapping."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                p, b = _PATH.search(line), _BATCH.search(line)
                if p and b:
                    base = os.path.basename(p.group(1))
                    out[base] = min(int(b.group(1)), out.get(base, 1 << 62))
    return out


def commit_times(checkpoint):
    """micro-batch id -> commit time in epoch ms (the commit log entry's mtime)."""
    d = os.path.join(checkpoint, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e6
            for n in (os.listdir(d) if os.path.isdir(d) else []) if n.isdigit()}


def file_latencies(drops, batch_of, committed_at):
    """Per timed file: (batch, seconds from when it was due to be
    dropped, which is when its events were created, to the commit of
    the batch that consumed it); and the timed files no committed batch
    consumed. Timing from the due time counts any lateness of the
    generator against the stream."""
    out, lost = [], []
    for d in drops:
        if d["timed"]:
            b = batch_of.get(d["file"])
            if b is None or b not in committed_at:
                lost.append(d["file"])
            else:
                out.append((b, (committed_at[b] - d["scheduled_ms"]) / 1e3))
    return out, lost


def warmup_delays(drops, batch_of, committed_at):
    """Per warm-up file, seconds from its scheduled drop to the commit of
    the batch that consumed it. The first file's delay is the cold first
    micro-batch: set-up work the stream defers to its first batch shows
    in it, the generator's cadence does not. The later delays mostly
    replay the backlog the first one leaves, which amplifies the host's
    speed, so set-up time counts only the first."""
    out = []
    for d in drops:
        if not d["timed"]:
            b = batch_of.get(d["file"])
            if b is None or b not in committed_at:
                raise ValueError(f"warm-up file {d['file']} was never committed")
            out.append((committed_at[b] - d["scheduled_ms"]) / 1e3)
    return out


def stream_metrics(rec, setup_s):
    """Every metric's value on stream_steady, plus run facts for the log.
    `setup_s` is the JVM's set-up; the query start and the warm-up's
    excess are added here."""
    ckpt = rec["checkpoint"]
    committed_at = commit_times(ckpt)
    batch_of = source_log(ckpt)
    lat, lost = file_latencies(rec["drops"], batch_of, committed_at)
    warm = warmup_delays(rec["drops"], batch_of, committed_at)
    if not lat:
        raise ValueError("no timed file was committed")
    timed_batches = sorted(b for b, _ in lat)
    prog = {p["batch"]: p for p in rec["progress"]}
    trig = [prog[b]["duration_ms"]["triggerExecution"] / 1e3 for b in timed_batches]
    first_drop = min(d["scheduled_ms"] for d in rec["drops"] if d["timed"])
    # every event of a file shares its latency, so event quantiles are
    # quantiles over files with equal weights
    values = {
        "setup_s": setup_s + rec["start_s"] + warm[0],
        "latency_p50_s": quantile([s for _, s in lat], 0.5),
        "latency_p95_s": quantile([s for _, s in lat], 0.95),
        "cycle_s": statistics.median(trig),
        "throughput_per_s": len(lat) * STREAM_FILE_EVENTS
        / ((committed_at[timed_batches[-1]] - first_drop) / 1e3),
        "live_heap_mb": rec["live_heap_mb"],
        "peak_heap_mb": rec["peak_heap_mb"],
    }
    info = {"uncommitted_files": lost,
            "start_s": round(rec["start_s"], 3),
            "warmup_delays_s": [round(x, 3) for x in warm],
            "latency_samples_events": len(lat) * STREAM_FILE_EVENTS,
            "latency_samples_files": len(lat),
            "file_latencies_s": [round(s, 4) for _, s in lat],
            "batch_s": [round(x, 3) for x in trig]}

    def dur(key):
        return statistics.median(prog[b]["duration_ms"].get(key, 0) for b in timed_batches)

    execs = {}
    for x in rec["sink_execs"]:
        execs.setdefault(x["batch"], {}).setdefault(x["kind"], x)

    def sink(b, kind):
        x = execs.get(b, {}).get(kind)
        return None if x is None else x["end_ms"] - x["start_ms"]

    def upsert(b):
        h, v = execs.get(b, {}).get("history_append"), execs.get(b, {}).get("upsert_write")
        return None if h is None or v is None else v["end_ms"] - h["end_ms"]

    def med(values):
        xs = [v for v in values if v is not None]
        return statistics.median(xs) if xs else 0.0

    timed_drops = [d for d in rec["drops"] if d["timed"]]
    rows_in = sum(prog[b]["rows"] for b in timed_batches)
    values.update({
        "EventPipeline.writeBatch.addBatch_ms": dur("addBatch"),
        "EventPipeline.writeBatch.is_empty_ms": med(sink(b, "is_empty") for b in timed_batches),
        "EventPipeline.writeBatch.history_append_ms": med(sink(b, "history_append") for b in timed_batches),
        "EventPipeline.upsertKeyedView.ms": med(upsert(b) for b in timed_batches),
        "EventPipeline.upsertKeyedView.rows_written_per_row_in": med(
            execs[b]["upsert_write"]["rows_written"] / STREAM_FILE_EVENTS
            for b in timed_batches if "upsert_write" in execs.get(b, {})),
        "EventPipeline.readEventStream.latestOffset_ms": dur("latestOffset"),
        "EventPipeline.readEventStream.getBatch_ms": dur("getBatch"),
        "EventPipeline.readEventStream.backlog_files_max": max(d["backlog_files"] for d in timed_drops),
        "EventPipeline.readEventStream.rows_read_per_event": rows_in / (len(timed_batches) * STREAM_FILE_EVENTS),
        "Enrich.transform.queryPlanning_ms": dur("queryPlanning"),
        "stream.commit.walCommit_ms": dur("walCommit"),
        "stream.commit.commitOffsets_ms": dur("commitOffsets"),
        "stream.jobs_per_batch": med(rec["batch_jobs"].get(str(b)) for b in timed_batches),
        "stream.shuffle_write_kb_per_batch": med(
            rec["batch_shuffle_bytes"].get(str(b), 0) / 1024 for b in timed_batches),
        "harness.gen_late_ms": max(d["stamp_ms"] - d["scheduled_ms"] for d in timed_drops),
    })
    return values, info


# ---------------------------------------------------------------- batch

def batch_metrics(rec, setup_s):
    """Every metric's value on batch_cold, plus run facts for the log."""
    walls = [r["build_s"] + r["exec_s"] for r in rec["runs"]]
    values = {
        "setup_s": setup_s,
        "latency_p50_s": quantile(walls, 0.5),
        "latency_p95_s": quantile(walls, 0.95),
        "cycle_s": sum(walls),
        "throughput_per_s": len(walls) / sum(walls),
        "live_heap_mb": rec["live_heap_mb"],
        "peak_heap_mb": rec["peak_heap_mb"],
    }
    for m in MODULES:
        runs = [r for r in rec["runs"] if r["module"] == m]
        tot = [v for k, v in rec["totals"].items() if k.startswith(m + "/")]

        def run_sum(key):
            return sum(r[key] for r in runs)

        def tot_sum(key):
            return sum(t[key] for t in tot)

        values.update({
            f"{m}.build_s": run_sum("build_s"),
            f"{m}.exec_s": run_sum("exec_s"),
            f"{m}.jobs": tot_sum("jobs"),
            f"{m}.task_cpu_s": tot_sum("task_cpu_ns") / 1e9,
            f"{m}.task_run_s": tot_sum("task_run_ms") / 1e3,
            f"{m}.shuffle_write_mb": tot_sum("shuffle_write_bytes") / 1048576,
            f"{m}.gc_s": run_sum("gc_s"),
            f"{m}.codegen_compiles": run_sum("codegen_compiles"),
            f"{m}.codegen_ms": run_sum("codegen_ms"),
            f"{m}.plan_ms": tot_sum("plan_ms"),
        })
    info = {"timed_queries": len(walls)}
    return values, info


# ---------------------------------------------------------------- spans

def self_times(spans):
    """name -> total self time in ms (own duration minus its children's);
    numbered names (batch12) are summed under their stem."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ms"] - s["start_ms"]
    out = {}
    for s in spans:
        own = s["end_ms"] - s["start_ms"] - child.get(s["id"], 0)
        name = re.sub(r"^batch\d+$", "batch", s["name"])
        out[name] = out.get(name, 0) + own
    return out
