"""The benchmark's own tests: every workload at the tiny smoke scale, plain
and traced, must emit every metric BENCHMARK.json names, run its output
checks, and report them correct.

    python3 -m unittest perfbench/test_smoke.py      # from the repo root

The first run builds the engine (minutes); each later run takes ~30 s.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def bench(workload, trace):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed",
                        "7", "--seconds", "2", "--trace", str(trace),
                        "--smoke"], cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout, p.stderr


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        result, stdout, stderr = bench(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], stderr[-3000:])
        self.assertEqual(result["failed"], 0, stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 2)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        if trace:
            self.assertGreater(result["metrics"]["rows_per_s"]["value"], 0)
            self.assertGreater(result["metrics"]["spark.jobs"]["value"], 0)
        # the human-readable report names every end-to-end metric
        for name in ["setup_s", "cold_pass_s", "op_p50_s", "ops_per_s",
                     "rows_per_s", "failed_frac", "storage_mb", "table_mb"]:
            self.assertIn(name, stdout)
        return result["metrics"]

    def test_registry_mix(self):
        self.check("registry_mix", 0)
        layers = self.check("registry_mix", 1)
        self.assertGreater(layers["shared.warmup_s"]["value"], 0)
        for fam in ["q", "etl", "events", "text", "dedup", "sim", "graph",
                    "corpus", "mm", "stream"]:
            self.assertGreater(layers[f"registry.{fam}.jobs"]["value"], 0, fam)

    def test_etl_cdc(self):
        self.check("etl_cdc", 0)
        layers = self.check("etl_cdc", 1)
        for name in ["etl.extract_s", "etl.upsert_s", "etl.rows_processed",
                     "etl.rows_skipped", "serve.overhead_s",
                     "sinks.buckets_touched_frac", "sinks.table_files"]:
            self.assertGreater(layers[name]["value"], 0, name)

    def test_corpus_ingest(self):
        self.check("corpus_ingest", 0)
        layers = self.check("corpus_ingest", 1)
        for name in ["ops.dedup_verdicts_s", "ops.dedup_append_s",
                     "ops.tokenize_s", "ops.ivf_append_s", "ops.erase_s",
                     "ops.exact_dup_frac", "ops.unique_frac",
                     "sinks.bytes_rewritten_per_row"]:
            self.assertGreater(layers[name]["value"], 0, name)


if __name__ == "__main__":
    unittest.main()
