"""The benchmark's own tests.

    python3 -m unittest discover -s layerbench -v

Set LAYERBENCH_E2E=1 to add one plain and one traced run of a workload
(about two minutes, builds first if needed).
"""

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest_tree(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generated(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        gen.generate(workload, d, seed, 2)
        return digest_tree(d)


def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(generated(w, 7), generated(w, 7))

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(generated(w, 7), generated(w, 8))

    def test_reference_cleaner_matches_engine_rules(self):
        self.assertEqual(gen.clean_text(" Drop-out, see https://x.y/1 2019 "),
                         "dropout see")
        self.assertTrue(gen.FLAG_RE.search("they dropped out"))
        self.assertEqual(gen.label_of(0.1), "neutral")
        self.assertEqual(gen.label_of(0.125), "positive")


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_names_and_units(self):
        s = spec()
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in s[k]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual([w["name"] for w in s["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual(len(s["per_layer"]), 115)

    def test_every_benchmark_metric_is_reported_with_its_unit(self):
        cp = run.ensure_build()
        out = subprocess.run(
            run.java_cmd(cp, tempfile.gettempdir())[:1] +
            ["-cp", cp, "layerbench.Main", "--list-metrics"],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        reported = dict(line.split() for line in out.splitlines())
        for n in reported:
            self.assertRegex(n, NAME)
        s = spec()
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertEqual(reported.get(m["name"]), m["unit"], m["name"])


@unittest.skipUnless(os.environ.get("LAYERBENCH_E2E") == "1",
                     "set LAYERBENCH_E2E=1 for end-to-end runs")
class EndToEndTest(unittest.TestCase):
    def run_once(self, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "etl_spine", "--seed", "3", "--seconds", "1", "--trace",
             str(trace)], cwd=run.ROOT, stdout=subprocess.PIPE, text=True,
            timeout=400)
        self.assertEqual(p.returncode, 0)
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_plain_and_traced_runs_print_every_metric(self):
        s = spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = self.run_once(trace)
            self.assertEqual(sorted(res),
                             ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            for m in s[key]:
                self.assertEqual(res["metrics"][m["name"]]["unit"],
                                 m["unit"])


if __name__ == "__main__":
    unittest.main()
