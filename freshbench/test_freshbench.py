"""The benchmark's own tests: its small mode passes every check and reports
every declared metric, each check fails on a deliberately corrupted output,
and the command fails without the program's sources.

    python3 -m unittest freshbench/test_freshbench.py     (from the repo root)

Each case starts one JVM that runs the three workloads on tiny inputs.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("freshen-batch", "fresh-get", "dedup-corpus")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "freshbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


class SmallMode(unittest.TestCase):
    def test_every_check_passes(self):
        rc, res, err = run("--small")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(res["correct"])
        for w in WORKLOADS:
            r = res["workloads"][w]
            self.assertTrue(r["correct"], r["problems"])
            self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
            self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()), r["metrics"])

    def test_traced_run_reports_every_layer(self):
        rc, res, err = run("--small", "--trace", "1")
        self.assertEqual(rc, 0, err[-3000:])
        for w in WORKLOADS:
            self.assertEqual(set(res["workloads"][w]["metrics"]),
                             {m["name"] for m in SPEC["per_layer"]})


class CorruptedOutputsFail(unittest.TestCase):
    def failing(self, corruption):
        rc, res, err = run("--small", "--corrupt", corruption)
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        return {w: res["workloads"][w] for w in WORKLOADS}

    def test_changed_cell_value(self):
        r = self.failing("cell")
        self.assertIn("differ", " ".join(r["freshen-batch"]["problems"]))
        self.assertIn("differs", " ".join(r["fresh-get"]["problems"]))
        self.assertTrue(r["dedup-corpus"]["correct"])

    def test_duplicated_row(self):
        r = self.failing("dup-row")
        self.assertIn("repeats an entity_id", " ".join(r["freshen-batch"]["problems"]))
        self.assertIn("returned 2 rows", " ".join(r["fresh-get"]["problems"]))
        self.assertTrue(r["dedup-corpus"]["correct"])

    def test_dropped_dedup_edge(self):
        r = self.failing("drop-edge")
        self.assertIn("component other than", " ".join(r["dedup-corpus"]["problems"]))
        self.assertTrue(r["freshen-batch"]["correct"])
        self.assertTrue(r["fresh-get"]["correct"])


class WithoutProgram(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "freshbench"), os.path.join(bare, "freshbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, res, _ = run("--workload", "fresh-get", "--seed", "1", "--seconds", "1",
                             "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
