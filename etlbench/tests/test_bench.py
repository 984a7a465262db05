"""Tests of the benchmark's own code: deterministic generators and output
checks that reject wrong results. No JVM is started.

    python3 -m unittest discover -s etlbench/tests
"""

import copy
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _tree(d):
    return sorted(os.path.relpath(os.path.join(r, n), d) for r, _, ns in os.walk(d) for n in ns)


class GeneratorTest(unittest.TestCase):
    def _same(self, write):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            write(7, a)
            write(7, b)
            write(8, c)
            files = _tree(a)
            self.assertEqual(files, _tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertTrue(mismatch, "another seed must give other inputs")

    def test_calls_same_seed_same_bytes(self):
        self._same(lambda s, d: gen.write_calls(s, 3000, d))

    def test_stream_same_seed_same_bytes(self):
        self._same(lambda s, d: gen.write_stream(s, 2000, 4, d))

    def test_tables_same_seed_same_bytes(self):
        self._same(lambda s, d: gen.write_tables(s, 0.001, d))

    def test_calls_plant_every_dirty_value(self):
        _, meta = gen.generate_calls(3, 20000)
        for kind, n in meta["planted"].items():
            self.assertGreater(n, 0, kind)
        e = meta["expected"]
        self.assertEqual(e["rows_in"], e["malformed_rows"] + e["null_arrival_rows"]
                         + e["antijoin_removed"] + e["star_rows"])

    def test_stream_expectations(self):
        recs, meta = gen.generate_stream(3, 5000)
        e = meta["expected"]
        self.assertEqual(e["distinct_keys"], len({r["cad_event_number"] for r in recs}))
        self.assertGreater(e["duplicates"], 0)
        dirty = [r.get(c) for r in recs for c in gen.DURATION_COLUMNS]
        self.assertIn(None, dirty)
        self.assertIn("", dirty)
        self.assertTrue(any(v and v.endswith("s") for v in dirty))
        self.assertTrue(any(v and v.startswith(" ") for v in dirty))

    def test_e8_twin(self):
        self.assertEqual([gen.e8(v) for v in ["123", " 456 ", "78s", "", None]],
                         [123, 456, 78, None, None])


def _batch_report(expected, passes=3):
    want = expected["star_rows"]
    tables = ["fact_call", "dim_care_spd", "dim_co_response", "dim_cad_event",
              "dim_location", "dim_call_sign"]
    rows = {t: want for t in tables}
    return {"passes": [{"id": i, "errors": [], "counts": {"star_rows": dict(rows)}} for i in range(passes)],
            "check": {"star_rows": dict(rows), "dim_id_mismatch_rows": 0}}


class CheckTest(unittest.TestCase):
    def test_batch_accepts_right_and_rejects_wrong(self):
        _, meta = gen.generate_calls(5, 2000)
        exp = meta["expected"]
        good = _batch_report(exp)
        self.assertEqual(checks.check_batch(good, exp)[:2], (4, 0))
        for plant in (lambda r: r["passes"][1]["counts"]["star_rows"].update(fact_call=exp["star_rows"] + 1),
                      lambda r: r["check"]["star_rows"].update(dim_location=exp["star_rows"] - 1),
                      lambda r: r["check"].update(dim_id_mismatch_rows=3),
                      lambda r: r["passes"][0]["errors"].append("pass threw"),
                      lambda r: r["check"]["star_rows"].pop("dim_call_sign")):
            bad = copy.deepcopy(good)
            plant(bad)
            self.assertEqual(checks.check_batch(bad, exp)[1], 1)

    def test_stream_accepts_right_and_rejects_wrong(self):
        _, meta = gen.generate_stream(5, 2000)
        exp = meta["expected"]
        good = {"passes": [{"id": i, "errors": [], "counts": {"store_rows": [exp["distinct_keys"]] * 3,
                                                              "records": exp["records"]}} for i in range(3)],
                "check": {"store_rows": exp["distinct_keys"], "distinct_keys": exp["distinct_keys"],
                          "log_rows": exp["records"], "e8_sums": dict(exp["e8_sums"]),
                          "e8_nonnull": dict(exp["e8_nonnull"])}}
        self.assertEqual(checks.check_stream(good, exp)[:2], (4, 0))
        col = gen.DURATION_COLUMNS[0]
        for plant in (lambda r: r["check"]["e8_sums"].update({col: exp["e8_sums"][col] + 1}),
                      lambda r: r["check"].update(store_rows=exp["distinct_keys"] + 1),
                      lambda r: r["check"].update(distinct_keys=exp["distinct_keys"] - 1),
                      lambda r: r["passes"][2]["counts"]["store_rows"].__setitem__(1, exp["records"]),
                      lambda r: r["passes"][0]["counts"].update(store_rows=[]),
                      lambda r: r["passes"][1]["errors"].append("epoch 3: boom")):
            bad = copy.deepcopy(good)
            plant(bad)
            self.assertEqual(checks.check_stream(bad, exp)[1], 1)

    def test_queries_accept_right_and_reject_wrong(self):
        frozen = {"q_a": {"mode": "counted", "rows": 5, "hash": "00ff"},
                  "q_b": {"mode": "forced", "rows": 70, "hash": "abcd"}}
        good = {"passes": [{"id": i, "ops": 2, "errors": [],
                            "counts": {"queries": {"q_a": [0.1, 0.2, 5], "q_b": [0.1, 0.3, 70]}}}
                           for i in range(3)],
                "check": {"queries": {"q_a": {"rows": 5, "hash": "00ff"}, "q_b": {"rows": 70, "hash": "abcd"}}}}
        self.assertEqual(checks.check_queries(good, frozen)[:2], (8, 0))
        for plant in (lambda r: r["check"]["queries"]["q_b"].update(hash="abce"),
                      lambda r: r["check"]["queries"]["q_a"].update(rows=4),
                      lambda r: r["passes"][1]["counts"]["queries"]["q_b"].__setitem__(2, 69),
                      lambda r: r["passes"][0]["errors"].append("q_a: Bench.isMapOnly says forced"),
                      lambda r: r["check"]["queries"].update(q_a={"error": "boom"})):
            bad = copy.deepcopy(good)
            plant(bad)
            self.assertEqual(checks.check_queries(bad, frozen)[1], 1)

    def test_frozen_query_file_is_for_the_generated_tables(self):
        frozen = run.frozen_queries()
        self.assertEqual(frozen["tables"], {"seed": run.TABLE_SEED, "scale": run.TABLE_SCALE})
        for q in frozen["queries"].values():
            self.assertIn(q["mode"], ("counted", "forced"))


class MetricTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_beyond(self):
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(15), 50)

    def test_benchmark_json_lists_every_metric_run_reports(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["batch_etl", "stream_upsert", "query_mix"])
        names = {m["name"] for m in spec["end_to_end"]}
        self.assertEqual(names, {"setup_s", "cold_s", "warm_s", "rows_per_s",
                                 "batch_p50_ms", "batch_p90_ms", "read_s"})
        layers = {m["name"] for m in spec["per_layer"]}
        for q in run.frozen_queries()["queries"]:
            self.assertIn("query.%s.build_s" % q, layers)
            self.assertIn("query.%s.run_s" % q, layers)


if __name__ == "__main__":
    unittest.main()
