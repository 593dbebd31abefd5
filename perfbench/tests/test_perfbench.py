"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import corpus  # noqa: E402
import run  # noqa: E402

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        self.assertEqual(
            {(m["name"], m["unit"], m["better"]) for m in BENCH["end_to_end"]},
            {("total_s", "s", "lower"), ("cpu_s", "s", "lower"),
             ("peak_rss_mb", "MB", "lower"), ("setup_s", "s", "lower")})
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))

    def test_per_layer_names_are_valid_and_unique(self):
        names = [m["name"] for m in BENCH["per_layer"] + BENCH["end_to_end"]]
        self.assertEqual(len(names), len(set(names)))
        for m in BENCH["per_layer"] + BENCH["end_to_end"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for layer in ("cli", "config", "loader", "classify", "rules",
                      "analyzer", "tracker", "exec", "queries"):
            self.assertTrue(any(n.startswith(layer + ".") for n in names), layer)

    def test_every_query_has_its_per_query_metrics(self):
        names = {m["name"] for m in BENCH["per_layer"]}
        for w in run.MANIFEST["workloads"].values():
            for q in w.get("queries", []):
                self.assertIn(f"q.{q}.s", names)
                self.assertIn(f"q.{q}.jobs", names)

    def test_workloads_match_the_manifest(self):
        self.assertEqual({w["name"] for w in BENCH["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual(set(run.MANIFEST["workloads"]), set(run.WORKLOADS))

    def test_per_layer_metrics_name_what_they_should_move(self):
        moves = run.MANIFEST["per_layer_moves"]
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        for m in BENCH["per_layer"]:
            self.assertIn(m["name"], moves)
            self.assertTrue(set(moves[m["name"]]["moves"]) <= e2e)

    def test_result_line_carries_exactly_the_declared_metrics(self):
        ops = [("a", True, 1.0), ("b", True, 2.0)]
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            line = run.result_line(ops, {}, trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(line["metrics"]), {m["name"] for m in BENCH[key]})
            for m in BENCH[key]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])


class Generator(unittest.TestCase):
    def test_same_seed_gives_byte_identical_repository(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            corpus.write(corpus.generate(5, 12, 3), a)
            corpus.write(corpus.generate(5, 12, 3), b)
            files = sorted(os.listdir(a))
            self.assertEqual(files, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(corpus.generate(5, 12, 3), corpus.generate(5, 12, 3))

    def test_seeds_differ(self):
        self.assertNotEqual(corpus.generate(1, 12, 3), corpus.generate(2, 12, 3))

    def test_every_severity_appears_and_the_tail_is_reversible(self):
        for seed in range(20):
            plan = corpus.generate(seed, 12, 3)
            self.assertEqual(len(plan), 12)
            self.assertEqual({m["severity"] for m in plan},
                             {"SAFE", "LOW", "MEDIUM", "HIGH", "CRITICAL"})
            self.assertTrue(all(m["down"] for m in plan[-3:]))
            self.assertEqual([m["version"] for m in plan],
                             [f"{i:03d}" for i in range(1, 13)])


class FailureAccounting(unittest.TestCase):
    def test_a_failing_command_counts_and_has_no_time(self):
        ops = []
        with tempfile.TemporaryDirectory() as d:
            log = os.path.join(d, "log")
            run.timed_op(ops, "ok", ["echo", "applied 3, skipped 0"], d, {}, log,
                         lambda o: o.strip() == "applied 3, skipped 0")
            run.timed_op(ops, "exit", ["sh", "-c", "echo applied 3, skipped 0; exit 1"],
                         d, {}, log, lambda o: True)
            run.timed_op(ops, "wrong", ["echo", "applied 2, skipped 1"], d, {}, log,
                         lambda o: o.strip() == "applied 3, skipped 0")
            run.timed_op(ops, "garbage", ["echo", "not json"], d, {}, log, json.loads)
        self.assertTrue(ops[0][1] and ops[0][2] > 0)
        self.assertEqual([(n, ok, t) for n, ok, t in ops[1:]],
                         [("exit", False, None), ("wrong", False, None),
                          ("garbage", False, None)])
        line = run.result_line(ops, {}, True)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (4, 3))
        self.assertEqual(line["metrics"]["fail_ratio"]["value"], 0.75)

    def test_a_broken_query_is_left_out_of_the_time(self):
        expected = {"q1": {"rows": 3, "digest": "ab"}, "q2": {"rows": 1, "digest": "cd"},
                    "q3": {"rows": 5, "digest": "ef"}}
        outcomes = [
            {"name": "q1", "ok": True, "rows": 3, "digest": "ab", "total_s": 1.5},
            {"name": "q2", "ok": False, "rows": 0, "digest": "", "total_s": 0.0},
            {"name": "q3", "ok": True, "rows": 5, "digest": "00", "total_s": 9.0},
            {"name": "q4", "ok": True, "rows": 1, "digest": "aa", "total_s": 2.0},
        ]
        ops = []
        self.assertEqual(run.judge(outcomes, expected, ops), [1.5])
        self.assertEqual([ok for _, ok, _ in ops], [True, False, False, False])

    def test_no_operation_is_a_failure(self):
        line = run.result_line([], {}, False)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (1, 1))


if __name__ == "__main__":
    unittest.main()
