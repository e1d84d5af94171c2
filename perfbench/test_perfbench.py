"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

They pin the percentile and sample-count rule and the generator's
determinism (both checked inside the JVM by `run.py --selftest`), that the
metric names agree with BENCHMARK.json, that a real run prints a result line
that parses, and that a directory without the program's sources fails fast
with no result.
"""

import json
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import repeat  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run_py(*args, cwd=HERE.parent):
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=cwd)


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        proc = run_py("--selftest")
        cls.code = proc.returncode
        cls.out = json.loads(proc.stdout.strip().splitlines()[-1])

    def test_percentile_rule_and_generator(self):
        self.assertEqual(self.out["failures"], [])
        self.assertEqual(self.code, 0)
        self.assertGreaterEqual(self.out["checks"], 20)

    def test_names_match_benchmark_json(self):
        self.assertEqual(self.out["end_to_end"], [m["name"] for m in BENCH["end_to_end"]])
        self.assertEqual(self.out["per_layer"], [m["name"] for m in BENCH["per_layer"]])


class ResultLine(unittest.TestCase):
    def test_accepts_exactly_the_four_keys(self):
        good = '{"correct":true,"attempted":3,"failed":0,"metrics":{"p50_ms":{"value":1.5,"unit":"ms"}}}'
        self.assertEqual(run.result_line(["# note", good])["attempted"], 3)
        self.assertIsNone(run.result_line([good, "trailing"]))
        self.assertIsNone(run.result_line(['{"correct":true,"attempted":1,"failed":0}']))
        self.assertIsNone(run.result_line([good[:-1] + ',"extra":1}']))
        self.assertIsNone(run.result_line([]))

    def test_spread_matches_statistics_quantiles(self):
        vs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        self.assertEqual(repeat.spread(vs), (med, q1, q3, (q3 - q1) / med))


class Runs(unittest.TestCase):
    def test_a_real_run_prints_parsable_metrics(self):
        proc = run_py("--workload", "corpus_batch", "--seed", "3", "--seconds", "1", "--trace", "0")
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        res = run.result_line(proc.stdout.strip().splitlines())
        self.assertIsNotNone(res)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        self.assertEqual({n: m["unit"] for n, m in res["metrics"].items()}, want)
        for n, m in res["metrics"].items():
            self.assertIsInstance(m["value"], float, n)
            self.assertGreater(m["value"], 0, n)

    def test_without_program_sources_fails_without_result(self):
        bare = run.OUT / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        try:
            (bare / "perfbench").mkdir(parents=True)
            shutil.copy(HERE.parent / "BENCHMARK.json", bare)
            for f in HERE.iterdir():
                if f.is_dir() and f.name != "__pycache__":
                    shutil.copytree(f, bare / "perfbench" / f.name)
                elif f.is_file():
                    shutil.copy(f, bare / "perfbench")
            proc = run_py("--workload", "serve_read", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(run.result_line(proc.stdout.strip().splitlines()))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
