"""perfbench's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The sample-count and probe tests build the engine and run the JVM, so
the whole file takes a few minutes.
"""

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(ROOT, ".perfbench_work", "tests")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tree_files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class MetricNames(unittest.TestCase):
    def test_names_use_only_allowed_characters(self):
        b = bench_json()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_reported_metrics_match_benchmark_json(self):
        b = bench_json()
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         [n for n, _ in run.END_TO_END])
        self.assertEqual([m["unit"] for m in b["end_to_end"]],
                         [u for _, u in run.END_TO_END])
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        for w in b["workloads"]:
            self.assertIn(w["name"], gen.GENERATORS)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_and_order_other_seed_differs(self):
        for w in gen.GENERATORS:
            a, b, c = (os.path.join(TMP, "gen", w, x) for x in "abc")
            for d in (a, b, c):
                shutil.rmtree(d, ignore_errors=True)
            pa_ = gen.generate(w, 5, a)
            pb = gen.generate(w, 5, b)
            pc = gen.generate(w, 6, c)
            self.assertEqual(tree_files(a), tree_files(b), w)
            for f in tree_files(a):
                if f == "plan.json":
                    continue
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f"{w}: {f} differs")
            strip = lambda p: json.dumps({k: v for k, v in p.items() if k != "inputs"},
                                         sort_keys=True).replace(a, "").replace(b, "")
            self.assertEqual(strip(pa_), strip(pb), w)
            self.assertEqual(pa_["sequence"], pb["sequence"], w)
            self.assertNotEqual(pa_["sequence"], pc["sequence"], w)
            self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                shallow=False)
                                for f in tree_files(a) if f != "plan.json"), w)


def run_bench(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.returncode, r.stdout


class SampleCount(unittest.TestCase):
    def test_each_workload_yields_100_latency_samples(self):
        b = bench_json()
        for w in b["workloads"]:
            rc, out = run_bench(w["name"], 3, b["run_seconds"])
            self.assertEqual(rc, 0, out[-2000:])
            res = json.loads(out.strip().splitlines()[-1])
            self.assertTrue(res["correct"], out[-2000:])
            with open(os.path.join(run.WORK, "reports", f"{w['name']}-seed3-trace0.json")) as f:
                rep = json.load(f)
            self.assertGreaterEqual(rep["latency_samples"], 100, w["name"])


class FailingProbe(unittest.TestCase):
    """A probe op that throws, and one whose output changes after the
    warm-up, run in the real loop: both count as failed and add no
    latency sample. The probes live only in ProbeRun.scala, here."""

    def test_probe_failures_count_and_add_no_sample(self):
        classes, _ = build.build()
        probe_out = os.path.join(TMP, "probe")
        shutil.rmtree(probe_out, ignore_errors=True)
        os.makedirs(probe_out)
        jars = os.path.join(build.spark_jars(), "*")
        cp = os.pathsep.join([classes, jars])
        subprocess.run(["java", "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", probe_out,
                        "-classpath", cp, os.path.join(HERE, "ProbeRun.scala")], check=True)
        plan = run.inputs("docstore_sql", 4)
        work = os.path.join(TMP, "probe-run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out_json = os.path.join(work, "out.json")
        cmd = run.java_cmd(work) + ["-cp", os.pathsep.join([probe_out, cp]), "ProbeRun",
                os.path.join(run.WORK, "docstore_sql", "inputs-4", "plan.json"),
                work, "8", str(run.nproc()), out_json]
        subprocess.run(cmd, check=True, cwd=work, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        with open(out_json) as f:
            out = json.load(f)
        s = run.summarize(plan, out)
        probes = [x for x in out["samples"] if x["id"].startswith("probe_")]
        self.assertTrue(any(x["id"] == "probe_throws" for x in probes))
        self.assertTrue(any(x["id"] == "probe_wrong" for x in probes))
        self.assertTrue(all(not x["ok"] for x in probes))
        self.assertEqual(s["failed"], len(probes))
        self.assertGreater(s["failed"] / s["attempted"], 0)
        self.assertFalse(s["correct"])
        good = [x for x in out["samples"] if not x["id"].startswith("probe_")]
        self.assertTrue(good and all(x["ok"] for x in good))
        self.assertEqual(len(s["latencies"]), len(good))


if __name__ == "__main__":
    unittest.main()
