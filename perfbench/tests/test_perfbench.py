"""Self-tests of the benchmark's own logic (no JVM, no build).

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

NUMBER = re.compile(r"\b\d+(?:\.\d+)?\b")


def script(seed, seconds=15):
    with tempfile.TemporaryDirectory() as d:
        plan = workloads.sql_adhoc(seed, seconds, d)
        path = os.path.join(d, "plan.tsv")
        workloads.write_plan(plan, path)
        with open(path, "rb") as f:
            # the generated input files live in the temp dir; drop its name
            return f.read().replace(d.encode(), b"<dir>"), plan


class ScriptTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(script(7)[0], script(7)[0])

    def test_other_seed_other_literals(self):
        a, b = script(7)[1], script(8)[1]
        lits = lambda plan: [NUMBER.findall(p) for _, p in plan]
        self.assertNotEqual(lits(a), lits(b))

    def test_mix_of_reads_and_writes(self):
        plan = script(3, seconds=60)[1]
        kinds = [k for k, _ in plan]
        self.assertGreater(kinds.count("write") / len(kinds), 0.1)
        rounds = int(60 // workloads.ROUND_SECONDS)
        self.assertGreaterEqual(kinds.count("read"), len(workloads.READS) * rounds)
        # every written table is read after it is written
        for i, (k, sql) in enumerate(plan):
            if sql.startswith("create table"):
                name = sql.split()[2].split("(")[0]
                self.assertTrue(any(f"from {name}" in p for _, p in plan[i:]))

    def test_each_round_crosses_one_insert_collapse(self):
        # the engine collapses a table's insert lineage on every 32nd insert
        # into it; a one-round script must reach it and read the table after
        for seconds in (15, 60):
            plan = script(5, seconds)[1]
            rounds = max(1, int(seconds // workloads.ROUND_SECONDS))
            inserts = [i for i, (_, p) in enumerate(plan) if p.startswith("insert into log ")]
            self.assertEqual(len(inserts), 32 * rounds)
            self.assertTrue(any("from log" in p for _, p in plan[inserts[31]:]))

    def test_pipeline_lap_is_a_prefix_sized_by_seconds(self):
        keys = [k for k, _ in workloads.PIPELINE_KEYS]
        short = [p for _, p in workloads.pipeline_snapshot(15)]
        self.assertEqual(short, keys[:len(short)])
        self.assertEqual([p for _, p in workloads.pipeline_snapshot(1000)], keys)
        self.assertLess(len(short), len(keys))


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 100)), 90), (None, 9))
        v, beyond = stats.percentile(list(range(1, 101)), 90)
        self.assertEqual((v, beyond), (90, 10))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans_sum_to_wall(self):
        spans = [("op", "", 0.0, 1.0), ("engine.run", "op", 0.0, 0.3),
                 ("catalyst.analysis", "engine.run", 0.1, 0.2),
                 ("catalyst.exec_plan", "op", 0.3, 0.4),
                 ("catalyst.optimization", "catalyst.exec_plan", 0.3, 0.35),
                 ("action", "op", 0.4, 1.0), ("job.1", "action", 0.5, 0.8)]
        st, clipped = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.0)
        self.assertAlmostEqual(st["engine"], 0.2)
        self.assertAlmostEqual(st["catalyst"], 0.05 + 0.1 + 0.05)
        self.assertAlmostEqual(st["action"], 0.3)
        self.assertAlmostEqual(st["exec"], 0.3)
        self.assertAlmostEqual(sum(st.values()), 1.0)
        self.assertEqual(clipped, 0.0)
        self.assertTrue(stats.accounted(spans, 1.0))

    def test_concurrent_jobs_count_once(self):
        spans = [("op", "", 0.0, 1.0), ("action", "op", 0.0, 1.0),
                 ("job.1", "action", 0.1, 0.6), ("job.2", "action", 0.4, 0.9)]
        st, _ = stats.self_times(spans)
        self.assertAlmostEqual(st["exec"], 0.8)
        self.assertAlmostEqual(st["action"], 0.2)
        self.assertAlmostEqual(sum(st.values()), 1.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [("op", "", 0.0, 1.0), ("action", "op", 0.5, 1.0),
                 ("job.1", "action", 0.9, 1.002)]
        st, clipped = stats.self_times(spans)
        self.assertAlmostEqual(clipped, 0.002)
        self.assertAlmostEqual(sum(st.values()), 1.0)


class NamesTest(unittest.TestCase):
    def test_metric_and_workload_names(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = ([w["name"] for w in bench["workloads"]] + [m["name"] for m in bench["end_to_end"]]
                 + [m["name"] for m in bench["per_layer"]])
        for n in names + list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertRegex(n, stats.NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        for m in bench["end_to_end"] + bench["per_layer"]:
            units = run.END_TO_END if m in bench["end_to_end"] else run.PER_LAYER
            self.assertEqual(m["unit"], units[m["name"]])


class CanonTest(unittest.TestCase):
    def test_numbers_compare_across_engines(self):
        import decimal
        self.assertEqual(check.canon(5), check.canon(5.0))
        self.assertEqual(check.canon(decimal.Decimal("12.50")), check.canon(12.5))
        self.assertEqual(check.canon(0.1 + 0.2), check.canon(0.3))
        self.assertNotEqual(check.canon(1.5), check.canon(1.6))

    def test_fingerprint_ignores_row_order(self):
        rows = [(1, "a"), (2, "b"), (3, None)]
        self.assertEqual(check.fingerprint(check.canon_rows(rows)),
                         check.fingerprint(check.canon_rows(rows[::-1])))
        self.assertNotEqual(check.fingerprint(check.canon_rows(rows)),
                            check.fingerprint(check.canon_rows(rows[:2] + [(3, "c")])))


if __name__ == "__main__":
    unittest.main()
