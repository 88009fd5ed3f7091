#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

They check the benchmark's plumbing, not the program's speed:
  - BENCHMARK.json keeps the limits of its format;
  - on the tiny sf0.001 fixtures, untraced and traced runs of each workload
    emit every declared metric with its unit, and print the same
    end-to-end metric names;
  - on the benchmark's sf0.01 input, the exact counters repeat across two
    traced runs with different seeds;
  - a corrupted expected hash is reported as a failure, never passed;
  - without the program's sources next to it the benchmark exits non-zero
    and prints no result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

import run

SPEC_PATH = os.path.join(run.ROOT, "BENCHMARK.json")
# queries.construct_jobs is left out: adaptive execution submits one stage
# job more or less from pass to pass on loops (README.md).
EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "catalyst.plan_nodes",
         "streaming.batches"]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def bench(workload, seed, trace, *extra, data="sf0.001", cwd=run.ROOT, script=None):
    """Runs the benchmark; returns (exit code, stdout lines, last-line JSON)."""
    cmd = [sys.executable, script or os.path.join(run.HERE, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--data", data, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, lines, last


def diag(lines, tag):
    prefix = f"[perfbench] {tag} "
    return next(json.loads(l[len(prefix):]) for l in lines if l.startswith(prefix))


class Spec(unittest.TestCase):
    def test_limits(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertLessEqual(os.path.getsize(SPEC_PATH), 64 * 1024)
        self.assertTrue(1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int))
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = [w["name"] for w in s["workloads"]]
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"], w["name"])
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m["name"])
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            names.append(m["name"])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        for p in s["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_./-]{1,200}$")
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))


class Runs(unittest.TestCase):
    def test_every_workload_emits_every_metric(self):
        s = spec()
        declared = {0: {m["name"]: m["unit"] for m in s["end_to_end"]},
                    1: {m["name"]: m["unit"] for m in s["per_layer"]}}
        for w in (x["name"] for x in s["workloads"]):
            e2e_names = []
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    code, lines, last = bench(w, 1, trace)
                    self.assertEqual(code, 0, "\n".join(lines))
                    self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(last["correct"], "\n".join(lines))
                    self.assertEqual(last["failed"], 0)
                    self.assertGreaterEqual(last["attempted"], 1)
                    got = {k: v["unit"] for k, v in last["metrics"].items()}
                    self.assertEqual(got, declared[trace])
                    for v in last["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))
                    e2e_names.append(sorted(diag(lines, "e2e")))
            self.assertEqual(e2e_names[0], e2e_names[1], w)

    def test_exact_counters_repeat(self):
        for w in (x["name"] for x in spec()["workloads"]):
            exact = []
            for seed in (1, 2):
                code, lines, last = bench(w, seed, 1, data="sf0.01")
                self.assertEqual(code, 0, "\n".join(lines))
                exact.append({k: last["metrics"][k]["value"] for k in EXACT})
            with self.subTest(workload=w):
                self.assertEqual(exact[0], exact[1], f"{w}: exact counters differ across runs")

    def test_corrupted_hash_is_a_failure(self):
        with open(os.path.join(run.HERE, "expected.json")) as f:
            expected = json.load(f)
        good = expected["sf0.001"]
        expected["sf0.001"] = {q: "0" * 64 for q in good}
        os.makedirs(run.WORK, exist_ok=True)
        bad = os.path.join(run.WORK, "selftest-expected.json")
        with open(bad, "w") as f:
            json.dump(expected, f)
        try:
            code, lines, last = bench("loops", 1, 0, "--expected", bad)
        finally:
            os.remove(bad)
        self.assertEqual(code, 0)
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        failed = [l.split()[2] for l in lines if l.startswith("[perfbench] FAILED ")]
        self.assertEqual(len(failed), last["failed"])
        self.assertTrue(failed and set(failed) <= set(good), lines)

    def test_fails_without_the_program(self):
        bare = os.path.join(run.WORK, "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(SPEC_PATH, bare)
            shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".work", "out", "target"))
            code, lines, _ = bench("loops", 1, 0, cwd=bare,
                                   script=os.path.join(bare, "perfbench", "run.py"))
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(code, 0)
        self.assertEqual(lines, [])


if __name__ == "__main__":
    unittest.main(verbosity=2)
