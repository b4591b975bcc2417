"""The benchmark's own tests: each correctness check accepts a right
output and rejects a deliberately wrong one, and BENCHMARK.json names
exactly the metrics run.py prints.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import json
import math
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import fecgen  # noqa: E402
import run  # noqa: E402


def observed_from(expected_state, classes=None, new_docs=None):
    """What a correct run reads back from the stores for one state."""
    obs = {"contribution_docs": expected_state["contribution_docs"],
           "contribution_vertices": expected_state["contribution_vertices"],
           "amount_sum_docs": expected_state["amount_sum"],
           "amount_sum_vertices": expected_state["amount_sum"],
           "expenditure_keys": list(expected_state["expenditure_keys"])}
    if classes is not None:
        obs["classified"] = dict(classes)
    if new_docs is not None:
        obs["new_docs"] = new_docs
    return obs


class FecChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.exp = fecgen.generate(3, cls.tmp.name, 800)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def good_pass(self):
        e = self.exp
        return {"load": observed_from(e["load"], e["load"]["classified"]),
                "deltas": [observed_from(e["deltas"][0],
                                         new_docs=e["deltas"][0]["new_keys"])]}

    def test_correct_pass_accepted(self):
        self.assertEqual(checks.check_fec_pass(self.exp, self.good_pass()), [])

    def test_tally_off_by_one_rejected(self):
        for key in ("contribution_docs", "contribution_vertices"):
            p = self.good_pass()
            p["load"][key] += 1
            self.assertTrue(checks.check_fec_pass(self.exp, p), key)

    def test_amount_not_conserved_rejected(self):
        p = self.good_pass()
        p["deltas"][0]["amount_sum_vertices"] = "0.01"
        self.assertTrue(checks.check_fec_pass(self.exp, p))

    def test_classification_rejected(self):
        p = self.good_pass()
        p["load"]["classified"]["individual"] -= 1
        self.assertTrue(checks.check_fec_pass(self.exp, p))

    def test_delta_new_keys_rejected(self):
        p = self.good_pass()
        p["deltas"][0]["new_docs"] += 1
        self.assertTrue(checks.check_fec_pass(self.exp, p))

    def test_amendments(self):
        d2 = self.exp["deltas"][1]
        self.assertTrue(d2["amended"] and d2["amendments"])
        ok = observed_from(d2)
        self.assertEqual(checks.check_delta(d2, ok, "d2"), [])
        stale = copy.deepcopy(ok)
        stale["expenditure_keys"].append(d2["amended"][0])
        self.assertTrue(checks.check_delta(d2, stale, "d2"))
        lost = copy.deepcopy(ok)
        lost["expenditure_keys"].remove(d2["amendments"][0])
        self.assertTrue(checks.check_delta(d2, lost, "d2"))

    def test_merge_properties(self):
        d2 = self.exp["deltas"][1]
        fine = {"duplicate_keys": {"graph/vertices/Donor": 0,
                                   "graph/edges/SPENT": 0},
                "expenditures": observed_from(self.exp["expenditures"]),
                "amendment_batch": observed_from(d2),
                "digests_before_replay": {"graph/vertices/Donor": "3:ab"},
                "digests_after_replay": {"graph/vertices/Donor": "3:ab"}}
        self.assertEqual(checks.check_fec_finish(self.exp, fine), [])
        dup = copy.deepcopy(fine)
        dup["duplicate_keys"]["graph/edges/SPENT"] = 1
        self.assertTrue(checks.check_fec_finish(self.exp, dup))
        changed = copy.deepcopy(fine)
        changed["digests_after_replay"]["graph/vertices/Donor"] = "4:ab"
        self.assertTrue(checks.check_fec_finish(self.exp, changed))
        chain = copy.deepcopy(fine)
        chain["expenditures"]["expenditure_keys"].append(
            self.exp["deltas"][1]["amended"][0] + "x")
        self.assertTrue(checks.check_fec_finish(self.exp, chain))

    def test_generator_tallies_agree(self):
        e = self.exp
        self.assertEqual(sum(e["load"]["classified"].values()),
                         e["load"]["contribution_docs"])
        d1 = e["deltas"][0]
        self.assertEqual(d1["contribution_docs"],
                         e["load"]["contribution_docs"] + d1["new_keys"])
        self.assertGreater(d1["in_batch_dups"], 0)
        self.assertGreater(d1["replayed_lines"], 0)

    def test_classification_rules(self):
        c = fecgen.classify
        self.assertEqual(c("IND", "", "15", "A, B", "C1"), "individual")
        self.assertEqual(c("IND", "", "24T", "A, B", "C1"), "individual")
        self.assertIsNone(c("IND", "", "22Y", "A, B", "C1"))
        self.assertEqual(c("ORG", "C2", "24K", "X", "C1"), "committee")
        self.assertEqual(c("ORG", "", "15", "X", "C1"), "organization")
        self.assertEqual(c("CAN", "H1", "15C", "X", "C1"), "candidate")
        self.assertIsNone(c("CAN", "", "15C", "X", "C1"))


class CatalogChecks(unittest.TestCase):
    def test_frames(self):
        a = pd.DataFrame({"k": np.array([1, 2, 3], dtype="int64"),
                          "v": [0.5, float("nan"), 2.0], "s": ["x", "y", None]})
        self.assertEqual(checks.compare_frames("q", a, a.iloc[::-1].copy()), [])
        changed = a.copy()
        changed.loc[2, "v"] = 2.0000001
        self.assertTrue(checks.compare_frames("q", changed, a))
        narrow = a.copy()
        narrow["k"] = narrow["k"].astype("int32")
        self.assertTrue(checks.compare_frames("q", narrow, a))
        neg = a.copy()
        neg.loc[0, "v"] = -0.0
        zero = a.copy()
        zero.loc[0, "v"] = 0.0
        self.assertTrue(checks.compare_frames("q", neg, zero))
        self.assertTrue(checks.compare_frames("q", a.iloc[:2], a))

    def test_oracle_row_changed(self):
        con = checks.connect_catalog(run.CATALOG_DATA)
        sql = ("SELECT n_regionkey, COUNT(*) AS n FROM nation "
               "GROUP BY n_regionkey")
        oracle = checks.oracle_frame(con, sql)
        self.assertEqual(checks.compare_frames("q", oracle.copy(), oracle), [])
        wrong = oracle.copy()
        wrong.loc[0, "n"] += 1
        self.assertTrue(checks.compare_frames("q", wrong, oracle))

    def test_digests(self):
        p = {"entries": {"graph_paths": {"digests": ["5:aa", "5:aa", "5:aa"]}}}
        self.assertEqual(checks.check_digests([p]), [])
        p["entries"]["graph_paths"]["digests"][1] = "5:ab"
        self.assertTrue(checks.check_digests([p]))


class Contract(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]],
                         ["fec_cycle", "catalog"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertTrue(math.isfinite(m["bound"]))


if __name__ == "__main__":
    unittest.main()
