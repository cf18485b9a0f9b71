"""The benchmark's own test.

Checks that the metric names and units BENCHMARK.json lists are exactly the
ones a run prints, for every workload and both trace modes, that every
end-to-end metric of the report is printed, and that a seed always yields
the same query order and micro-batch split.

Usage: python3 -m unittest perfbench/test_bench.py   (about five minutes)
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def schedule(seed: int) -> dict:
    classes = build.build(run.WORK)
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", f"{classes}:{build.classpath()}",
         "perfbench.Schedule", str(seed)],
        capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        self.assertEqual(schedule(7), schedule(7))

    def test_seed_changes_order_and_split(self):
        a, b = schedule(7), schedule(8)
        self.assertNotEqual(a["order"], b["order"])
        self.assertNotEqual(a["batches"], b["batches"])

    def test_batches_split_every_document_once_in_equal_parts(self):
        batches = schedule(7)["batches"]
        self.assertEqual(sorted(i for b in batches for i in b), list(range(1000)))
        self.assertEqual(len({len(b) for b in batches}), 1)


class MetricsTest(unittest.TestCase):
    """Runs every workload once per trace mode (the short `--seconds` still
    makes the minimum number of passes)."""
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            for trace in (0, 1):
                p = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "1",
                     "--seconds", "1", "--trace", str(trace)],
                    capture_output=True, text=True)
                cls.runs[(w, trace)] = p

    def result(self, w, trace):
        p = self.runs[(w, trace)]
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check_metrics(self, trace, listed):
        want = {m["name"]: m["unit"] for m in listed}
        for w in WORKLOADS:
            r = self.result(w, trace)
            self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(r["correct"], (w, trace))
            self.assertEqual({n: m["unit"] for n, m in r["metrics"].items()}, want, (w, trace))
            self.assertTrue(all(isinstance(m["value"], (int, float))
                                for m in r["metrics"].values()), (w, trace))

    def test_end_to_end_names_and_units(self):
        self.check_metrics(0, BENCH["end_to_end"])

    def test_per_layer_names_and_units(self):
        self.check_metrics(1, BENCH["per_layer"])

    def test_report_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            report = self.runs[(w, 0)].stdout
            for n, unit in run.E2E_UNITS.items():
                self.assertRegex(report, rf"\n  {n.replace('.', '[.]')} +\S+ {unit} +\(.*n=\d+\)")

    def test_bare_benchmark_directory_fails_without_a_result(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            shutil.copy(run.ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
