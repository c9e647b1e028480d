"""Python-side tests of the benchmark: the canonical hash, the result
validator and BENCHMARK.json's shape.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.join(BENCH, "tools"))
import canon  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class CanonTest(unittest.TestCase):
    def test_matches_scala_side(self):
        # the same rows and constant are asserted in SelfTest.scala
        rows = [(1, 0.1, "船", None), (-2, 1.5, "", True)]
        h = canon.hash_rows(["|".join(canon.value(v) for v in r) for r in rows])
        self.assertEqual(
            h, "ce6f716da463990d6e316e9325bc68547a359e60ef21ca3d76cdb51489a196b3")

    def test_row_order_and_column_order_do_not_matter(self):
        a = canon.of(["b", "a"], [(1, "x"), (2, "y")])
        b = canon.of(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_values_by_type(self):
        self.assertEqual(canon.value(2.0), canon.value(2.0))
        self.assertNotEqual(canon.value(2), canon.value(2.0))
        self.assertEqual(canon.value(float("nan")), "dnan")


class ResultTest(unittest.TestCase):
    def good(self):
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"pass_s": {"value": 1.25, "unit": "s"}}}

    def test_accepts_a_good_result(self):
        run.validate(self.good())

    def test_rejects_broken_results(self):
        for mutate in (lambda r: r.pop("failed"),
                       lambda r: r.update(attempted=0),
                       lambda r: r.update(correct="yes"),
                       lambda r: r["metrics"].update({"bad name": {"value": 1, "unit": "s"}}),
                       lambda r: r["metrics"]["pass_s"].pop("unit")):
            r = self.good()
            mutate(r)
            with self.assertRaises(ValueError):
                run.validate(r)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        self.spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertEqual(tuple(w["name"] for w in s["workloads"]), run.WORKLOADS)
        for p in s["paths"]:
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in s[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in s["end_to_end"]), setup[0]["bound"])
        self.assertLessEqual(len(s["per_layer"]), 128)
        self.assertLessEqual(len(json.dumps(s).encode()), 64 * 1024)


if __name__ == "__main__":
    unittest.main()
