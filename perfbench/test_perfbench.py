"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

They build the program like a benchmark run does (first time only).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def produced_metrics():
    """Metric names the benchmark JVM writes, read from its sources: the
    literal names of `res.m`/`res.l` calls, the names in the phase, prefix
    and funnel mapping tables, and one per battery query."""
    src = ""
    for p in run.scala_sources(os.path.join(HERE, "src")):
        with open(p) as f:
            src += f.read()
    names = set(re.findall(r'res\.[ml]\("([^"$]+)"', src))

    def table(val):
        body = re.search(r"val %s: Seq\[[^=]*\] = Seq\((.*?)\)\n" % val, src, re.S).group(1)
        return re.findall(r'"([^"]+)"', body)
    names |= set(table("PhaseMetrics")[1::2]) | set(table("PrefixMetrics")[1::2])
    names |= set(table("FunnelMetrics"))
    names |= {f"battery.{q}_s" for q in table("Battery")}
    return names


class BenchmarkSpec(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units_are_legal(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in self.spec["end_to_end"]])

    def test_every_metric_is_produced(self):
        produced = produced_metrics()
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertIn(m["name"], produced)

    def test_workloads_match_the_runner(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(run.WORKLOADS))


class Generator(unittest.TestCase):
    def test_determinism_and_truth_table(self):
        run.build()
        cp = os.pathsep.join([os.path.join(run.BUILD, "bench"), os.path.join(run.BUILD, "program"),
                              os.path.join(run.SPARK_JARS, "*")])
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertTrue(r.stdout.startswith("ok"), r.stdout)


if __name__ == "__main__":
    unittest.main()
