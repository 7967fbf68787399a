#!/usr/bin/env python3
"""The benchmark's own test: every workload at the smoke scale (about
sf0.001), traced, so one run per workload exercises the untraced pass,
the traced pass and the local[1] pass. Checks that every gate passes,
that every end-to-end and per-layer metric is emitted, and that each
workload reports its own metric names. Also checks that a directory
holding only the benchmark (no engine sources) fails fast without a
result line.

    python3 graftbench/test_smoke.py          # from the repository root
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

NAMED = {
    "cdc_merge_mor": ["ingest_rows_per_s", "batch_latency_p50_s", "batch_latency_p90_s", "write_amp"],
    "cdc_snapshot_runner": ["ingest_rows_per_s", "batch_latency_p50_s", "batch_latency_p90_s", "write_amp"],
    "search_serve_cdc": ["query_latency_p50_s", "query_latency_p90_s", "queries_per_s",
                         "index_commit_latency_p50_s", "write_amp"],
    "curate_batch": ["curate_s"],
}
COMMON = ["setup_s", "ops_failed_frac", "peak_rss_mb", "peak_heap_mb", "live_heap_mb", "cpu_ms_per_op"]
SPANS = {
    "cdc_merge_mor": ["batch", "maintenance_batch"],
    "cdc_snapshot_runner": ["batch", "maintenance_batch"],
    "search_serve_cdc": ["bm25", "phrase", "suggest", "ann", "apply_cdc_lex", "apply_cdc_ann",
                         "compact", "vacuum"],
    "curate_batch": ["run"],
}
# spans that run in every smoke pass (maintenance falls on a cadence a 4 s pass may not reach)
ACTIVE = {
    "cdc_merge_mor": ["batch"],
    "cdc_snapshot_runner": ["batch"],
    "search_serve_cdc": ["bm25", "phrase", "suggest", "ann", "apply_cdc_lex", "apply_cdc_ann"],
    "curate_batch": ["run"],
}
STREAMING = ["streaming.trigger_ms_p50", "streaming.add_batch_ms_p50", "streaming.floor_ms_p50",
             "streaming.latest_offset_ms_p50", "streaming.query_planning_ms_p50",
             "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50", "streaming.batches"]
LAYERS = {
    "cdc_merge_mor": STREAMING + [
        "catalog.merge_batch_ms_p50", "catalog.files_opened_per_batch",
        "catalog.maintenance_batch_ms_p50", "catalog.bytes_written_per_batch",
        "catalog.snapshots_per_batch", "catalog.live_files_end"],
    "cdc_snapshot_runner": STREAMING + [
        "sources.bytes_written_per_batch", "sources.files_written_per_batch",
        "sources.bytes_read_per_batch"],
    "search_serve_cdc": [f"index.{k}_ms_p50" for k in ("bm25", "phrase", "suggest", "ann")] + [
        "index.apply_cdc_lex_ms_p50", "index.apply_cdc_ann_ms_p50", "index.compact_ms_p50",
        "index.vacuum_ms_p50", "index.manifest_versions_end", "index.live_files_end",
        "index.generator_lag_ms_p90"],
    "curate_batch": [],
}
ENGINE = ["jobs", "stages", "tasks", "planning_ms", "executor_cpu_ms", "shuffle_bytes",
          "spill_bytes", "output_bytes"]


def run(workload, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("graftbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "4", "--trace", "1", "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def tagged(lines, prefix):
    return json.loads(next(l for l in lines if l.startswith(prefix))[len(prefix):])


class Smoke(unittest.TestCase):
    def check(self, workload):
        p = run(workload)
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"], p.stdout)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(list(out["metrics"]), [m["name"] for m in SPEC["per_layer"]])
        e2e = tagged(lines, "graftbench: end_to_end ")
        for m in SPEC["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertGreater(e2e[m["name"]]["value"], 0, m["name"])
        named = tagged(lines, "graftbench: named ")
        for n in NAMED[workload] + COMMON:
            self.assertIn(n, named)
        self.assertEqual(named["ops_failed_frac"]["value"], 0)
        layers = tagged(lines, "graftbench: layers ")
        expected = LAYERS[workload] + [f"spark.{k}.{s}" for s in SPANS[workload] for k in ENGINE] + [
            "spark.core_scaling", "trace.overhead.latency_p50_ms"]
        for n in expected:
            self.assertIn(n, layers, n)
        for s in ACTIVE[workload]:
            self.assertGreater(layers[f"spark.jobs.{s}"], 0, f"no jobs attributed to span {s}")

    def test_cdc_merge_mor(self):
        self.check("cdc_merge_mor")

    def test_cdc_snapshot_runner(self):
        self.check("cdc_snapshot_runner")

    def test_search_serve_cdc(self):
        self.check("search_serve_cdc")

    def test_curate_batch(self):
        self.check("curate_batch")

    def test_bare_directory_fails_without_result(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "graftbench"), os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run("cdc_merge_mor", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
