"""Self-tests of the benchmark's accounting (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(ROOT, "perfbench", "src", "main", "scala",
                       "perfbench", "Layers.scala")) as f:
    LAYERS_SCALA = f.read()


def op(i, ms, ok=True, rows=0):
    return {"id": i, "kind": "k", "ms": ms, "ok": ok,
            "err": None if ok else "java.lang.IllegalStateException: boom",
            "rows_in": rows, "rows_out": 0}


def raw(ops, wall=10.0, layers=None):
    return {"workload": "ingest_batch", "seed": 1, "ops": ops,
            "timed_wall_s": wall, "setup_s": 12.5, "rss_peak_mb": 900.0,
            "checks": [], "layers": layers or {}, "conditions": {}}


class FailedOps(unittest.TestCase):
    def test_thrown_op_is_failed_and_never_fast(self):
        ops = [op(0, 100.0), op(1, 120.0), op(2, 1.0, ok=False)]
        m = stats.end_to_end(raw(ops))
        self.assertAlmostEqual(m["failed_share"][0], 1 / 3)
        # the failed op took 1 ms but sorts above every success
        self.assertEqual(m["op_p50_ms"][0], 120.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 2 / 10.0)
        line = stats.report(raw(ops), BENCH, traced=False)["line"]
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (3, 1))

    def test_percentile_on_a_failed_op_reads_as_the_whole_window(self):
        ops = [op(0, 50.0), op(1, 1.0, ok=False), op(2, 1.0, ok=False)]
        m = stats.end_to_end(raw(ops, wall=8.0))
        self.assertEqual(m["op_p50_ms"][0], 8000.0)

    def test_run_level_check_makes_the_run_incorrect(self):
        r = raw([op(0, 5.0)])
        r["checks"] = ["Derby holds 3 rows, predicted 4"]
        self.assertFalse(stats.report(r, BENCH, traced=False)["line"]["correct"])


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 0.9), 90)

    def test_p90_printed_only_from_100_ops(self):
        few = stats.end_to_end(raw([op(i, float(i)) for i in range(99)]))
        many = stats.end_to_end(raw([op(i, float(i)) for i in range(100)]))
        self.assertNotIn("op_p90_ms", few)
        self.assertIn("op_p90_ms", many)

    def test_median_is_always_reported(self):
        self.assertIn("op_p50_ms", stats.end_to_end(raw([op(0, 3.0)])))


class Names(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        names += [w["name"] for w in BENCH["workloads"]]
        names += list(stats.end_to_end(
            raw([op(i, 1.0, rows=5) for i in range(100)])))
        names += re.findall(r'"([a-z]+\.[a-z0-9_]+)" -> "', LAYERS_SCALA)
        self.assertGreater(len(names), 50)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, stats.NAME_RE)
        self.assertEqual(len(set(m["name"] for m in BENCH["per_layer"])),
                         len(BENCH["per_layer"]))

    def test_layer_list_matches_the_harness(self):
        units = LAYERS_SCALA[LAYERS_SCALA.index("val Units"):
                             LAYERS_SCALA.index("/** Harness spans")]
        declared = dict(re.findall(r'"([a-z]+\.[a-z0-9_]+)" -> "([a-z]+)"',
                                   units))
        listed = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        listed.pop("trace.op_p50_ms")
        self.assertEqual(declared, listed)

    def test_benchmark_file_limits(self):
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], stats.UNIT_RE)
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for w in BENCH["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
            self.assertIn(w["name"], stats.WORKLOADS)

    def test_report_carries_exactly_the_listed_metrics(self):
        r = raw([op(i, 1.0) for i in range(5)],
                layers={m["name"]: 1.0 for m in BENCH["per_layer"]})
        plain = stats.report(r, BENCH, traced=False)["line"]["metrics"]
        traced = stats.report(r, BENCH, traced=True)["line"]["metrics"]
        self.assertEqual(set(plain), {m["name"] for m in BENCH["end_to_end"]})
        self.assertEqual(set(traced), {m["name"] for m in BENCH["per_layer"]})


class Report(unittest.TestCase):
    def test_each_kind_gets_its_own_median(self):
        ops = [dict(op(i, float(10 * i)), kind="a" if i < 3 else "b")
               for i in range(6)]
        kinds = stats.report(raw(ops), BENCH, traced=False)["op_p50_ms_by_kind"]
        self.assertEqual(kinds, {"a": {"value": 10.0, "n": 3},
                                 "b": {"value": 40.0, "n": 3}})

    def test_tracing_overhead_uses_only_runs_of_the_same_sources(self):
        def kept(d, name, digest, p50):
            rep = stats.report(raw([op(0, p50)]), BENCH, traced=False)
            rep["conditions"]["source_digest"] = digest
            with open(os.path.join(d, name), "w") as f:
                json.dump({"report": rep}, f)

        layers = {m["name"]: 1.0 for m in BENCH["per_layer"]}
        traced = stats.report(raw([op(0, 110.0)], layers=layers), BENCH,
                              traced=True)
        traced["conditions"]["source_digest"] = "same"
        with tempfile.TemporaryDirectory() as d:
            stats.add_tracing_overhead(traced, d)
            self.assertNotIn("tracing_overhead", traced)
            kept(d, "ingest_batch-s1-t0-1.json", "same", 100.0)
            kept(d, "ingest_batch-s1-t0-2.json", "other", 50.0)
            stats.add_tracing_overhead(traced, d)
        self.assertEqual(traced["tracing_overhead"]["untraced_op_p50_ms"],
                         100.0)
        self.assertAlmostEqual(traced["tracing_overhead"]["share"], 0.1)


class Compare(unittest.TestCase):
    def test_verdicts(self):
        base = [100.0, 101.0, 99.0, 100.5, 100.2, 99.8, 100.1, 99.9, 100.3,
                99.7]
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base],
                                         "lower", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base],
                                         "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, list(base), "lower", 0.1)[0],
                         "unchanged")
        noisy = [50.0, 150.0, 80.0, 120.0, 100.0, 60.0, 140.0, 90.0, 110.0,
                 100.0]
        self.assertEqual(compare.verdict(base, noisy, "lower", 0.1)[0],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
