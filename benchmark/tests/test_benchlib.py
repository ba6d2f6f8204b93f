"""Unit tests of the benchmark's own logic (no JVM):

    python3 -m unittest discover -s benchmark/tests -p 'test_benchlib.py'
"""

import json
import math
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_beta_cdf(self):
        self.assertAlmostEqual(benchlib.beta_cdf(1, 1, 0.3), 0.3)
        self.assertAlmostEqual(benchlib.beta_cdf(2, 2, 0.5), 0.5)
        # I_x(2, 3) = 6x^2 - 8x^3 + 3x^4
        x = 0.35
        self.assertAlmostEqual(benchlib.beta_cdf(2, 3, x), 6 * x**2 - 8 * x**3 + 3 * x**4)
        self.assertAlmostEqual(benchlib.beta_cdf(10.5, 31.5, 0.25),
                               1 - benchlib.beta_cdf(31.5, 10.5, 0.75))

    def test_harrell_davis(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertAlmostEqual(benchlib.percentile(xs, 0.5), 3.0)
        self.assertAlmostEqual(benchlib.percentile([1.0, 2.0], 0.5), 1.5)
        self.assertAlmostEqual(benchlib.percentile([7.0] * 9, 0.75), 7.0)
        self.assertAlmostEqual(benchlib.percentile([7.0], 0.75), 7.0)
        ps = [benchlib.percentile(xs, q) for q in (0.1, 0.25, 0.5, 0.75, 0.9)]
        self.assertEqual(ps, sorted(ps))
        self.assertTrue(1.0 < ps[0] and ps[-1] < 5.0)
        for q in (0.0, 1.0):
            with self.assertRaises(ValueError):
                benchlib.percentile(xs, q)

    def test_steady_across_a_gap(self):
        # 41 ops with a gap at p75: one op crossing the gap moves the
        # order statistic at rank 30 by the whole gap, the estimate far less
        a = [1.0] * 31 + [2.0] * 10
        b = [1.0] * 30 + [2.0] * 11
        self.assertLess(benchlib.percentile(b, 0.75) - benchlib.percentile(a, 0.75), 0.3)

    def test_tail_rule_refuses_thin_tails(self):
        xs = list(range(42))
        # the board panel: 42 x 0.25 = 10.5 samples beyond p75, allowed
        benchlib.percentile(xs, 0.75, min_tail=10)
        # 42 x 0.2 = 8.4 beyond p80: refused
        with self.assertRaises(ValueError):
            benchlib.percentile(xs, 0.80, min_tail=10)
        # the issue's panel: 69 x 0.15 = 10.35 beyond p85
        benchlib.percentile(list(range(69)), 0.85, min_tail=10)
        with self.assertRaises(ValueError):
            benchlib.percentile(list(range(69)), 0.86, min_tail=10)

    def test_empty(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)


def write_csv(directory, header, parts):
    directory.mkdir(parents=True)
    for i, rows in enumerate(parts):
        (directory / f"part-{i:05d}-x.csv").write_text(
            "\n".join([header] + rows) + "\n", encoding="utf-8")


class DigestTest(unittest.TestCase):
    def test_order_and_split_independent(self):
        rows = ["1,2,0.5", "3,4,0.25", "5,6,0.125"]
        with tempfile.TemporaryDirectory() as d:
            a, b = Path(d) / "a", Path(d) / "b"
            write_csv(a, "x,y,z", [rows])
            write_csv(b, "x,y,z", [[rows[2]], [rows[1], rows[0]]])
            self.assertEqual(benchlib.csv_rows(a).__len__(), 3)
            self.assertEqual(benchlib.digest_rows(benchlib.csv_rows(a)),
                             benchlib.digest_rows(benchlib.csv_rows(b)))

    def test_content_sensitive(self):
        self.assertNotEqual(benchlib.digest_rows(["1,2"]), benchlib.digest_rows(["1,3"]))
        # a duplicated row is a different table
        self.assertNotEqual(benchlib.digest_rows(["1,2"]), benchlib.digest_rows(["1,2", "1,2"]))


class AccountingTest(unittest.TestCase):
    def test_error_rate(self):
        ops = [{"name": "a", "error": None}, {"name": "b", "error": "Boom: x"},
               {"name": "c", "error": None}, {"name": "d", "error": None}]
        problems = {"c": ["rows 3 != pinned 4"], "b": ["rows None != pinned 1"]}
        attempted, failed, rate, failures = benchlib.account(ops, problems)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(rate, 0.5)
        # an op that threw and failed its check counts once
        self.assertEqual([n for n, _ in failures], ["b", "c"])

    def test_all_good(self):
        ops = [{"name": "a", "error": None}]
        self.assertEqual(benchlib.account(ops, {})[:3], (1, 0, 0.0))

    def test_board_problems(self):
        ops = [{"name": "q1", "rows": 5, "error": None},
               {"name": "q2", "rows": 6, "error": None},
               {"name": "q3", "rows": None, "error": "Boom"},
               {"name": "q4", "rows": 1, "error": None}]
        problems = benchlib.board_problems(ops, {"q1": 5, "q2": 7, "q3": 1})
        self.assertEqual(sorted(problems), ["q2", "q4"])
        self.assertEqual(benchlib.account(ops, problems)[:3], (4, 3, 0.75))


class SeasonChecksTest(unittest.TestCase):
    METRICS = {"auc": 0.5, "logloss": 0.69, "brier": 0.25}

    def make_run(self, d, scores=None, prob="0.4"):
        out = Path(d)
        for t in ("clean_before", "clean_plays", "train", "test", "inference"):
            write_csv(out / t, "game_id,play_id", [["1,1", "1,2"]])
        write_csv(out / "scored_frames",
                  "game_id,play_id,frame_id,receiver_id,defender_id,pass_result,"
                  "non_completion_probability",
                  [["1,1,1,7,8,C," + prob, "1,2,1,7,8,I,0.6"]])
        write_csv(out / "scores.csv",
                  "game_id,play_id,defender_id,receiver_id,deception_score,recovery_score",
                  [scores or ["1,1,8,7,0.1,0.2", "1,2,8,7,0.3,0.4"]])
        (out / "model" / "metadata").mkdir(parents=True)
        (out / "metrics.json").write_text(json.dumps(self.METRICS))
        return out

    def test_clean_run_passes_and_is_reproducible(self):
        with tempfile.TemporaryDirectory() as d:
            out = self.make_run(d)
            problems, facts = benchlib.season_problems(out, self.METRICS)
            self.assertEqual(problems, {})
            again, _ = benchlib.season_problems(out, self.METRICS, pinned=facts, previous=facts)
            self.assertEqual(again, {})

    def test_mismatches_land_on_their_stage(self):
        with tempfile.TemporaryDirectory() as d:
            out = self.make_run(d, scores=["1,1,8,7,0.1,0.2"], prob="1.5")
            _, facts = benchlib.season_problems(self.make_run(Path(d) / "ref"), self.METRICS)
            other = dict(self.METRICS, auc=math.nextafter(0.5, 1))
            problems, _ = benchlib.season_problems(out, other, pinned=facts)
            self.assertIn("ml.infer", problems)         # probability outside [0, 1]
            self.assertIn("domain.score", problems)     # 1 score row for 2 plays, digest
            self.assertIn("ml.train", problems)         # metrics not bit-identical
            self.assertIn("ml.persist", problems)       # metrics.json disagrees
            self.assertNotIn("domain.clean", problems)
            ops = [{"name": s, "error": None} for s in benchlib.STAGES]
            self.assertEqual(benchlib.account(ops, problems)[:2], (6, 4))

    def test_non_finite_metrics_fail_train(self):
        with tempfile.TemporaryDirectory() as d:
            out = self.make_run(d)
            problems, _ = benchlib.season_problems(out, dict(self.METRICS, logloss=None))
            self.assertEqual(list(problems), ["ml.train"])


class SpanTest(unittest.TestCase):
    def test_self_times(self):
        spans = [{"id": 1, "parent": 0, "start_ns": 0, "end_ns": 10_000_000_000},
                 {"id": 2, "parent": 1, "start_ns": 1_000_000_000, "end_ns": 4_000_000_000},
                 {"id": 3, "parent": 1, "start_ns": 5_000_000_000, "end_ns": 6_000_000_000},
                 {"id": 4, "parent": 2, "start_ns": 2_000_000_000, "end_ns": 3_000_000_000}]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)


if __name__ == "__main__":
    unittest.main()
