"""The benchmark's own tests: tiny-scale smoke runs of every workload, the
harness self-test (span self-time arithmetic, job attribution, answer
checks), a deliberately corrupted answer, and the refusal to run without the
engine's sources.

    python3 -m unittest discover -s perfbench/tests -v

The es_surface smoke run needs a table directory in SPARK_GRAFT_SF_DIR
(the same variable graft.Bench reads) and is skipped without one.
"""
import glob
import json
import re
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
RUN = REPO / "perfbench" / "run.py"
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
TINY = ["--docs", "600", "--seconds", "1"]


def run(*args, cwd=REPO):
    p = subprocess.run([sys.executable, str(RUN), *args], cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    return p.returncode, p.stdout


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class Contract(unittest.TestCase):
    def assert_metrics(self, out, kind):
        res = last_json(out)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(res["attempted"], int)
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(res["metrics"][name]["value"], (int, float), name)
        return res

    def test_selftest(self):
        code, out = run("--workload", "selftest")
        self.assertEqual(code, 0)
        self.assertIn("selftest ok", out)

    def test_smoke_each_workload_both_modes(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            for trace, kind in [("0", "end_to_end"), ("1", "per_layer")]:
                with self.subTest(workload=w, trace=trace), \
                        tempfile.TemporaryDirectory(dir=REPO / ".bench_build") as d:
                    spans = Path(d) / "spans.jsonl"
                    engine_tmp = set(glob.glob("/tmp/graft_*"))
                    code, out = run("--workload", w, "--seed", "7", "--trace", trace,
                                    "--keep-spans", str(spans), *TINY)
                    self.assertEqual(code, 0, out)
                    res = self.assert_metrics(out, kind)
                    self.assertTrue(res["correct"], out)
                    self.assertEqual(res["failed"], 0)
                    self.assertRegex(out, rf"{w} end-to-end error_rate = 0 ratio \(n=\d+\)")
                    self.assertRegex(out, rf"{w} end-to-end query_p90_ms = \S+ ms \(n=\d+\)")
                    if kind == "end_to_end":
                        self.assertFalse(spans.exists())
                        for m in res["metrics"].values():
                            self.assertGreater(m["value"], 0)
                    else:
                        names = {json.loads(l)["name"] for l in spans.read_text().splitlines()}
                        self.assertTrue({"index.build", "io.reader_open", "query.bmw"} <= names, names)
                    if w == "search" and trace == "1":
                        # the catalogue sample: every row run and checked
                        # against DuckDB, its indexes kept inside the run
                        m = re.search(r"catalogue: (\d+) of (\d+) rows written", out)
                        self.assertIsNotNone(m, out)
                        n = m.group(2)
                        self.assertEqual(m.group(1), n)
                        self.assertRegex(out, rf"search layer driver.exec_jobs = \S+ count \(n={n}\)")
                        self.assertRegex(out, r"search layer ops.pair_kernels_exec_ms = \S+ ms \(n=3\)")
                        self.assertEqual(set(glob.glob("/tmp/graft_*")) - engine_tmp, set())

    def test_ingest_compact_checks_the_compacted_index(self):
        code, out = run("--workload", "ingest", "--seed", "9", "--trace", "0", "--compact", *TINY)
        self.assertEqual(code, 0, out)
        self.assertTrue(last_json(out)["correct"], out)
        self.assertRegex(out, r"ingest layer compact_s = \S+ s \(n=1\)")

    def test_corrupted_answer_is_caught(self):
        code, out = run("--workload", "search", "--seed", "8", "--corrupt", *TINY)
        self.assertEqual(code, 0, out)
        res = last_json(out)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("wrong answer: search check", out)

    @unittest.skipUnless(os.environ.get("SPARK_GRAFT_SF_DIR"), "SPARK_GRAFT_SF_DIR not set")
    def test_smoke_es_surface(self):
        code, out = run("--workload", "es_surface", "--sf-dir", os.environ["SPARK_GRAFT_SF_DIR"],
                        "--max-rows", "6", "--trace", "1", "--seconds", "1")
        self.assertEqual(code, 0, out)
        for name in ["rows_total_s", "row_p50_ms", "row_p90_ms", "setup_s", "peak_rss_mb",
                     "driver.construct_ms", "driver.exec_jobs", "spark.jobs"]:
            self.assertRegex(out, rf"es_surface \S+ {name} = \S+ \S+ \(n=\d+\)")
        self.assertGreaterEqual(last_json(out)["attempted"], 12)

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=REPO / ".bench_build") as d:
            shutil.copy(REPO / "BENCHMARK.json", d)
            shutil.copytree(REPO / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
