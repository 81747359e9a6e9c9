"""The benchmark's own tests.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests -v

The workload tests run each workload at its own scale factor with a
short stream window (about ten minutes in all); set PERFBENCH_QUICK=1
to run only the fast ones.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def _write(path, text, mtime_ms=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    if mtime_ms is not None:
        os.utime(path, ns=(int(mtime_ms * 1e6), int(mtime_ms * 1e6)))


def _entry(name, batch):
    return json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch})


class SourceLogTest(unittest.TestCase):
    def test_compact_file_keeps_the_batches_it_folds(self):
        with tempfile.TemporaryDirectory() as ckpt:
            src = os.path.join(ckpt, "sources", "0")
            # batches 0-9 survive only inside 9.compact, as after compaction
            _write(os.path.join(src, "9.compact"),
                   "v1\n" + "\n".join(_entry(f"f{b}.parquet", b) for b in range(10)) + "\n")
            _write(os.path.join(src, "10"), "v1\n" + _entry("f10.parquet", 10) + "\n")
            _write(os.path.join(src, ".10.crc"), "junk")
            for b in range(11):
                _write(os.path.join(ckpt, "commits", str(b)), "v1\n{}", mtime_ms=10_000 + 1000 * b)
            batch_of = metrics.source_log(ckpt)
            self.assertEqual(batch_of, {f"f{b}.parquet": b for b in range(11)})
            drops = [{"file": f"f{b}.parquet", "timed": b >= 2, "scheduled_ms": 9_500 + 1000 * b}
                     for b in range(11)]
            lat, lost = metrics.file_latencies(drops, batch_of, metrics.commit_times(ckpt))
            self.assertEqual(lost, [])
            self.assertEqual([b for b, _ in lat], list(range(2, 11)))
            for _, s in lat:
                self.assertAlmostEqual(s, 0.5, places=3)

    def test_warmup_delays_run_from_each_scheduled_drop(self):
        drops = [{"file": f"f{b}.parquet", "timed": b >= 2, "scheduled_ms": 1000 * b}
                 for b in range(4)]
        batch_of = {f"f{b}.parquet": b for b in range(4)}
        committed_at = {b: 1000 * b + 700 for b in range(4)}
        committed_at[1] = 4200
        delays = metrics.warmup_delays(drops, batch_of, committed_at)
        self.assertEqual([round(x, 3) for x in delays], [0.7, 3.2])
        del committed_at[1]
        with self.assertRaises(ValueError):
            metrics.warmup_delays(drops, batch_of, committed_at)

    def test_a_file_never_committed_is_reported_lost(self):
        drops = [{"file": "lost.parquet", "timed": True, "scheduled_ms": 0},
                 {"file": "kept.parquet", "timed": True, "scheduled_ms": 0}]
        lat, lost = metrics.file_latencies(drops, {"kept.parquet": 0}, {0: 1500})
        self.assertEqual(lost, ["lost.parquet"])
        self.assertEqual(lat, [(0, 1.5)])


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_the_code_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(metrics.quantile([1, 2, 3, 4, 5], 0.95), 4.8)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "name": "q_a", "start_ms": 0, "end_ms": 100},
                 {"id": 1, "parent": 0, "name": "build", "start_ms": 0, "end_ms": 70},
                 {"id": 2, "parent": 0, "name": "exec", "start_ms": 70, "end_ms": 95}]
        self.assertEqual(metrics.self_times(spans), {"q_a": 5, "build": 70, "exec": 25})
        spans = [{"id": 0, "parent": -1, "name": "batch12", "start_ms": 0, "end_ms": 10},
                 {"id": 1, "parent": -1, "name": "q_funcs2", "start_ms": 0, "end_ms": 10}]
        self.assertEqual(metrics.self_times(spans), {"batch": 10, "q_funcs2": 10})


def run_bench(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, json.loads(lines[-1])


@unittest.skipIf(os.environ.get("PERFBENCH_QUICK") == "1", "PERFBENCH_QUICK=1")
class WorkloadTest(unittest.TestCase):
    def check_metrics(self, workload):
        for trace, expected in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            code, lines, res = run_bench(workload, trace)
            self.assertEqual(code, 0, lines)
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, expected)
            if trace == 0:
                for name, unit in expected.items():
                    self.assertGreater(res["metrics"][name]["value"], 0, name)
                    self.assertIn(f"{name} = ", "\n".join(lines))

    def test_stream_steady_metrics(self):
        self.check_metrics("stream_steady")

    def test_batch_cold_metrics(self):
        self.check_metrics("batch_cold")

    def test_stream_check_can_fail(self):
        code, _, res = run_bench("stream_steady", 0, "--inject-fault", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_oracle_check_can_fail(self):
        code, lines, res = run_bench("batch_cold", 0, "--inject-fault", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertEqual(res["attempted"], len(run.ITERATIVE + run.LIGHT))
        self.assertTrue(any(line.startswith("# FAILED q_") for line in lines))


if __name__ == "__main__":
    unittest.main()
