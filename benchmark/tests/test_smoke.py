"""Smoke test of the whole benchmark: the build, one untraced and one
traced run of each workload at seed 42 (whose season outputs are pinned),
and the refusal to run without the engine sources. The workloads are
already small (season at 120 plays, the board at sf0.001), so a benchmark
that does not compile or crashes fails here in a few minutes instead of
in a full measurement. Run from the repository root:

    python3 -m unittest discover -s benchmark/tests -p 'test_smoke.py'
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, str(Path(cwd) / BENCH.name / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = run("--workload", workload, "--seed", "42", "--seconds", "5",
                "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        return result

    def test_season(self):
        r = self.check("season", 0)
        self.assertEqual(r["attempted"], 6)
        t = self.check("season", 1)
        self.assertGreater(t["metrics"]["domain.clean_s"]["value"], 0)
        self.assertGreater(t["metrics"]["ml.train.jobs"]["value"], 0)

    def test_board(self):
        self.check("board", 0)
        t = self.check("board", 1)
        for module in ("relational", "kernels", "textsim", "curate"):
            self.assertGreater(t["metrics"][f"queries.{module}.action_s"]["value"], 0, module)
        self.assertGreater(t["metrics"]["io.bucketed_pair_s"]["value"], 0)

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / BENCH.name,
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run("--workload", "season", "--seed", "1", "--seconds", "5",
                    "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
