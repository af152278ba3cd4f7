#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few landed files, a few
queries, a few merges). Run from the repository root:

  python3 perfbench/selftest.py

Checks that every workload prints, as its last line, one JSON object with
every metric BENCHMARK.json names and its unit, for both --trace values,
that the traced runs attribute work to the layers that do it, and that a
deliberately wrong expected signature is counted as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
WORKLOADS = ("etl_landing", "warehouse_sql", "corpus_prep", "lakehouse_merge")


def run(workload, trace, *extra):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "2",
                              "--trace", str(trace), "--tiny", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SelfTest(unittest.TestCase):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_result(self, workload, trace):
        record, result = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        specs = self.bench["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in specs])
        listed = workload in [w["name"] for w in self.bench["workloads"]]
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            if listed or trace:
                self.assertIsInstance(got["value"], (int, float), m["name"])
        for k in ("nproc", "loadavg_1m_start", "loadavg_1m_end", "jvm", "spark_version",
                  "seed", "operations", "errors"):
            self.assertIn(k, record)
        for m in record["metrics"].values():
            self.assertIn("n", m)
            if m["n"] == 0 and m["unit"] == "s":  # no latency sample prints null
                self.assertIsNone(m["value"])
        return record, result

    def test_every_workload_prints_every_metric(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    record, result = self.check_result(w, trace)
                    # failures are counted and their messages kept, never hidden
                    self.assertEqual(result["failed"], sum(record["errors"].values()))
                    if trace:
                        self.check_layers(w, result["metrics"])

    def check_layers(self, workload, metrics):
        value = {k: m["value"] for k, m in metrics.items()}
        if workload in ("etl_landing", "lakehouse_merge"):
            # both land files through EtlPipeline.handle and its JSON sink
            self.assertGreater(value["etl.jobs_per_file"], 0)
            self.assertGreater(value["etl.json_sink_s"], 0)
        if workload == "etl_landing":
            # the handler, merges and compaction construct no query
            # function, so none of their time or jobs is construction
            self.assertEqual(value["build.s"], 0)
            self.assertEqual(value["build.jobs"], 0)
        if workload == "lakehouse_merge":
            self.assertGreater(value["log.merge.jobs"], 0)

    def test_wrong_expected_signature_is_a_counted_failure(self):
        record, result = run("warehouse_sql", 0, "--corrupt-expected")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any("differs" in e for e in record["errors"]), record["errors"])


if __name__ == "__main__":
    unittest.main()
