#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_perfbench.py

Every test drives perfbench/run.py at the tiny scale (a few seconds of
measurement per run); the first one also builds the harness.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

RUN = [sys.executable, os.path.join("perfbench", "run.py")]

# Every metric each workload prints by name, with its unit.
NAMED = {
    "log_stream": {
        "ingest_lag_p50_ms": "ms", "ingest_lag_p99_ms": "ms", "ingest_catchup_rows_per_s": "1/s",
        "anomaly_lag_p50_ms": "ms", "ingest_lag_samples": "count", "ops": "count",
        "streaming.batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
        "streaming.commit_ms_p50": "ms", "sink.write_ms_p50": "ms", "sink.files_per_batch": "count",
        "streaming.backlog_max_rows": "count", "parse.ns_per_row": "ns",
        "anomaly.batch_ms_p50": "ms", "streaming.batches": "count",
        "streaming.rows_per_batch_p50": "count", "parse.valid_ratio": "ratio",
        "gen.late_p99_ms": "ms"},
    "log_dashboard": {
        "query_p50_ms": "ms", "query_p95_ms": "ms", "query_mix_p50_ms": "ms",
        "queries_per_s": "1/s", "ops": "count", "dashboard_load_ms": "ms",
        "analytics.plan_ms_p50": "ms", "analytics.exec_ms_p50": "ms",
        "analytics.shuffle_bytes_per_op": "bytes", "analytics.scan_rows_per_op": "count",
        "analytics.exchanges": "count", "analytics.smj": "count"},
    "corpus": {
        "corpus_build_s": "s", "delta_batch_p50_ms": "ms", "delta_docs_per_s": "1/s",
        "ops": "count", "build.prep_ms": "ms", "build.index_ms": "ms", "build.minhash_pin_ms": "ms",
        "build.bpe_ms": "ms", "build.ann_ms": "ms", "build.shuffle_bytes": "bytes",
        "delta.gate_ms_p50": "ms", "delta.split_ms_p50": "ms", "delta.append_ms_p50": "ms",
        "delta.ann_ms_p50": "ms", "delta.index_rows_read_per_batch": "count",
        "delta.admit_ratio": "ratio"},
}
SHARED = {"setup_s": "s", "setup.session_s": "s", "setup.load_ms_p50": "ms",
          "sched.jobs_per_op": "count", "sched.stages_per_op": "count",
          "sched.tasks_per_op": "count", "sched.core_util": "ratio",
          "pins.count": "count", "pins.peak_mb": "MB"}
BENCH = json.load(open("BENCHMARK.json"))


def run(workload, *extra, seconds=3):
    out = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                                "--scale", "tiny"] + list(extra),
                         capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}: {out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def test_traced_run_prints_every_named_metric_with_its_unit(self):
        for w, names in NAMED.items():
            with self.subTest(workload=w):
                lines, last = run(w, "--trace", "1")
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"], "\n".join(lines))
                self.assertEqual(last["failed"], 0)
                self.assertEqual(set(last["metrics"]), {m["name"] for m in BENCH["per_layer"]})
                for name, unit in {**names, **SHARED}.items():
                    self.assertTrue(any(l.startswith(f"{w} {name} = ") and l.endswith(f" {unit}")
                                        for l in lines), f"{w}: {name} [{unit}] not printed")

    def test_untraced_run_reports_the_end_to_end_set(self):
        lines, last = run("log_dashboard", "--trace", "0")
        self.assertTrue(last["correct"], "\n".join(lines))
        self.assertEqual(set(last["metrics"]), {m["name"] for m in BENCH["end_to_end"]})
        for m in BENCH["end_to_end"]:
            self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(last["metrics"][m["name"]]["value"], 0)


class DeterminismTest(unittest.TestCase):
    def gen(self, workload, seed, d):
        subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "3",
                              "--scale", "tiny", "--gen-only", d], check=True, timeout=900,
                       capture_output=True)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            self.same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)

    def test_same_seed_writes_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory(dir=".") as tmp:
            for w in NAMED:
                with self.subTest(workload=w):
                    a, b, c = (os.path.join(tmp, f"{w}-{k}") for k in "abc")
                    self.gen(w, 5, a)
                    self.gen(w, 5, b)
                    self.gen(w, 6, c)
                    self.assertTrue(self.same_tree(a, b), f"{w}: seed 5 inputs differ between runs")
                    self.assertFalse(self.same_tree(a, c), f"{w}: seeds 5 and 6 gave the same inputs")


class CorruptionTest(unittest.TestCase):
    def test_corrupted_result_is_a_failed_op(self):
        for w in NAMED:
            with self.subTest(workload=w):
                lines, last = run(w, "--corrupt", "1")
                self.assertFalse(last["correct"])
                self.assertGreaterEqual(last["failed"], 1)
                self.assertTrue(any(l.startswith("check FAIL") for l in lines))


if __name__ == "__main__":
    unittest.main()
