"""Self-tests of the benchmark's own code (no JVM needed).

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import filecmp
import os
import tempfile
import unittest

import gen_lake
import run
import stats


class LakeGeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        cls.expected = gen_lake.generate(cls.a, 7, 300)
        gen_lake.generate(cls.b, 7, 300)
        gen_lake.generate(cls.c, 8, 300)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def files(self, root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_gives_byte_identical_files(self):
        self.assertEqual(self.files(self.a), self.files(self.b))
        match, mismatch, errors = filecmp.cmpfiles(
            self.a, self.b, self.files(self.a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_files(self):
        self.assertFalse(filecmp.cmp(
            os.path.join(self.a, "day1", "NH_ProviderInfo_Day1.csv"),
            os.path.join(self.c, "day1", "NH_ProviderInfo_Day1.csv"),
            shallow=False))

    def test_mtimes_are_fixed(self):
        for day, mtime in (("day1", gen_lake.DAY1_MTIME),
                           ("day2", gen_lake.DAY2_MTIME)):
            for name in self.expected["days"][day]["synced"]:
                self.assertEqual(os.path.getmtime(
                    os.path.join(self.a, day, name)), mtime)
        redelivered = self.expected["skipped_day2"][0]
        self.assertTrue(filecmp.cmp(
            os.path.join(self.a, "day1", redelivered),
            os.path.join(self.a, "day2", redelivered), shallow=False))
        self.assertEqual(os.path.getmtime(
            os.path.join(self.a, "day2", redelivered)), gen_lake.DAY1_MTIME)

    def rows(self, day, name):
        with open(os.path.join(self.a, day, name), newline="") as f:
            return list(csv.reader(f))

    def test_expected_counts_match_the_files(self):
        e = self.expected
        self.assertEqual((e["changed"], e["new"]), (30, 15))
        for day in ("day1", "day2"):
            out = e["days"][day]["outputs"]
            for domain, name in (
                    ("provider_info", "ProviderInfo"), ("penalties", "Penalties"),
                    ("survey_summary", "SurveySummary"),
                    ("qualitymsr_mds", "QualityMDS")):
                body = self.rows(day, f"NH_{name}_{day.title()}.csv")[1:]
                self.assertEqual(out[f"staging/{domain}"]["rows"], len(body))
            prov = out["staging/provider_info"]["rows"]
            self.assertEqual(prov, 300 if day == "day1" else 45)
            for d in ("facility", "staffing", "rating"):
                self.assertEqual(out[f"transform/{d}"]["rows"], prov)
            self.assertGreaterEqual(out["transform/penalties"]["rows"], prov)
        self.assertEqual(e["dims"]["day2"]["facility_closed"], 30)
        self.assertEqual(e["dims"]["day2"]["facility_current"], 315)
        self.assertEqual(e["dims"]["day2"]["facility_rows"], 345)

    def test_cells_are_dirty(self):
        with open(os.path.join(self.a, "day1",
                               "NH_ProviderInfo_Day1.csv")) as f:
            text = f.read()
        cells = [c for r in self.rows("day1", "NH_ProviderInfo_Day1.csv")[1:]
                 for c in r]
        self.assertTrue(any(c.startswith("  ") and c.endswith(" ")
                            for c in cells))
        self.assertIn("", cells)
        self.assertIn('",', text)  # a quoted cell holding a comma
        self.assertTrue(any("," in c for c in cells))

    def test_row_hash_skips_nulls_and_row_id(self):
        h = gen_lake.row_hash
        self.assertEqual(h({"b": "2", "a": "1"}), h({"a": "1", "b": "2"}))
        self.assertEqual(h({"a": "1", "b": None}), h({"a": "1"}))
        self.assertEqual(h({"a": "1", "row_id": "9"}), h({"a": "1"}))
        self.assertNotEqual(h({"a": "1"}), h({"a": " 1"}))


class StatsTest(unittest.TestCase):

    def test_tail_percentile_needs_ten_samples_beyond(self):
        tp = stats.tail_percentile
        self.assertIsNone(tp(19))
        self.assertEqual(tp(20), 50.0)
        self.assertEqual(tp(99), 50.0)
        self.assertEqual(tp(100), 90.0)
        self.assertEqual(tp(999), 90.0)
        self.assertEqual(tp(1000), 99.0)
        self.assertEqual(tp(10000), 99.9)

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertEqual(stats.geomean([]), 0.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_is_span_minus_union_of_children(self):
        spans = [
            {"id": 1, "parent": -1, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps 2
            {"id": 4, "parent": 1, "start": 90, "end": 120},  # runs past 1
            {"id": 5, "parent": 2, "start": 15, "end": 20},
        ]
        self.assertEqual(stats.self_times(spans),
                         {1: 100 - 50 - 10, 2: 25, 3: 30, 4: 30, 5: 5})


class MetricListTest(unittest.TestCase):

    def test_benchmark_json_and_layers_json_name_what_run_reports(self):
        import json
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(run.HERE, "layers.json")) as f:
            layers = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(list(layers["layers"]), [n for n, _ in run.PER_LAYER])
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))
        for entry in layers["layers"].values():
            for target in entry["moves"]:
                metric, _, workload = target.partition("@")
                self.assertTrue(metric in run.END_TO_END or
                                metric == "failed_frac", target)
                self.assertTrue(workload in ("", *run.WORKLOADS), target)


class CheckTest(unittest.TestCase):

    def test_dag_check_counts_each_mismatch(self):
        with tempfile.TemporaryDirectory() as tmp:
            e = gen_lake.generate(tmp, 3, 50)
        def observed(day):
            d = e["days"][day]
            skipped = 1 if day == "day2" else 0
            return {
                "log": ["sync_inbox|SUCCESS|synced=4 skipped=%d" % skipped,
                        "universal_cleaning|SUCCESS|penalties:staged,"
                        "provider_info:staged,qualitymsr_mds:staged,"
                        "survey_summary:staged"] +
                       [f"{s}|SUCCESS|ok" for s in (
                           "move_source_files", "validate_staging",
                           "provider_transform", "quality_transform")],
                "outputs": {p: {**v, "distinct_row_ids": v["rows"]}
                            for p, v in d["outputs"].items()},
                "dims": {**e["dims"][day], "facility_max_current_per_key": 1}}
        record = {"passes": [],
                  "check": {"observed": {d: observed(d)
                                         for d in ("day1", "day2")}}}
        checks, bad = run.check_dag(record, e)
        self.assertEqual(bad, [])
        self.assertGreater(checks, 40)
        out = record["check"]["observed"]["day2"]["outputs"]
        out["transform/rating"]["hash"] += 1
        out["transform/surveys"]["distinct_row_ids"] -= 1
        self.assertEqual(len(run.check_dag(record, e)[1]), 2)

    def test_traced_dag_log_must_equal_the_untraced_log(self):
        def day(log):
            return {"name": "day1.pipeline", "ok": True, "log": log}
        run_log = ["sync_inbox|SUCCESS|synced=4 skipped=0",
                   "provider_transform|SUCCESS|facility",
                   "quality_transform|SUCCESS|qualitymsr_mds"]
        par_swapped = run_log[:1] + run_log[:0:-1]
        record = {"passes": [
            {"traced": False, "ops": [day(run_log)]},
            {"traced": True, "ops": [day(par_swapped)]},
            {"traced": True, "ops": [day(run_log[:2])]}]}  # a stage missing
        drift = run.traced_dag_drift(record)
        self.assertEqual(len(drift), 2)
        self.assertEqual([got == want for _, got, want in drift],
                         [True, False])

    def test_result_digest_ignores_order_but_not_types(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        c = pd.DataFrame({"x": [1.0, 2.0], "y": ["a", "b"]})
        self.assertEqual(run.result_digest(a), run.result_digest(b))
        self.assertNotEqual(run.result_digest(a)["hash"],
                            run.result_digest(c)["hash"])


if __name__ == "__main__":
    unittest.main()
