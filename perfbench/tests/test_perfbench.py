"""The benchmark's own tests: generator determinism, percentile math, and
the metric schema of BENCHMARK.json against what run.py prints.

Run from the root of a checkout: python3 -m unittest discover perfbench/tests
"""

import filecmp
import json
import os
import random
import re
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    names = sorted(os.listdir(a))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_esco_is_byte_identical_per_seed(self):
        gen.gen_esco(self.path("a"), 7, 0.05)
        gen.gen_esco(self.path("b"), 7, 0.05)
        gen.gen_esco(self.path("c"), 8, 0.05)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        for seed, name in ((1, "q1"), (1, "q2"), (2, "q3")):
            gen.gen_queries(self.path("a"), self.path(name), seed)
        self.assertTrue(filecmp.cmp(self.path("q1"), self.path("q2"), shallow=False))
        self.assertFalse(filecmp.cmp(self.path("q1"), self.path("q3"), shallow=False))

    def test_corpus_is_byte_identical_per_seed(self):
        gen.gen_corpus(self.path("a"), 7, 2000)
        gen.gen_corpus(self.path("b"), 7, 2000)
        gen.gen_corpus(self.path("c"), 8, 2000)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))

    def test_esco_expected_values_match_the_files(self):
        e = gen.gen_esco(self.path("a"), 3, 0.05)
        rels = {}
        with open(self.path("a/adjacency.tsv"), encoding="utf-8") as f:
            for line in f:
                rel, a, b = line.rstrip("\n").split("\t")
                rels.setdefault(rel, []).append((a, b))
        c = e["counts"]
        self.assertEqual(len(rels["essential"]), c["essential_for"])
        self.assertEqual(len(rels["optional"]), c["optional_for"])
        self.assertEqual(len(rels["isco"]), c["part_of_isco_group"])
        self.assertEqual(len(rels["broader"]), c["broader_skill"])
        self.assertEqual(len(rels["related"]), c["related_skill"])
        # the skill hierarchy is acyclic: a topological order exists
        children, indeg = {}, {}
        for p, ch in rels["broader"]:
            children.setdefault(p, []).append(ch)
            indeg[ch] = indeg.get(ch, 0) + 1
            indeg.setdefault(p, 0)
        ready = [n for n, d in indeg.items() if d == 0]
        seen = 0
        while ready:
            n = ready.pop()
            seen += 1
            for ch in children.get(n, ()):
                indeg[ch] -= 1
                if indeg[ch] == 0:
                    ready.append(ch)
        self.assertEqual(seen, len(indeg))
        self.assertIn("broader_isco", rels)

    def test_path_case_is_seeded_and_reachable(self):
        gen.gen_esco(self.path("a"), 3, 0.05)
        p = gen.gen_path(self.path("a"), 4)
        self.assertEqual(p, gen.gen_path(self.path("a"), 4))
        self.assertNotEqual(p, gen.gen_path(self.path("a"), 5))
        self.assertEqual(p["length"], 4)

    def test_esco_csv_dialect(self):
        gen.gen_esco(self.path("a"), 3, 0.05)
        with open(self.path("a/skills_en.csv"), encoding="utf-8") as f:
            text = f.read()
        self.assertIn('""', text)             # escaped quotes
        self.assertIn(',,', text)             # empty cells
        self.assertRegex(text, r'"[^"]*\n[^"]*"')  # multiline quoted cells

    def test_corpus_plants_duplicates_after_their_originals(self):
        e = gen.gen_corpus(self.path("a"), 5, 3000)
        docs, n = {}, 0
        with open(self.path("a/docs.jsonl"), encoding="utf-8") as f:
            for line in f:
                d = json.loads(line)
                n += 1
                # short documents may repeat by chance; they are dropped
                # as too short before exact dedup
                if d["source"] in ("gen-base", "gen-exact"):
                    docs[d["doc_id"]] = d["text"]
        self.assertEqual(n, 3000)
        first = {}
        for i in sorted(docs):
            first.setdefault(docs[i], i)
        copies = sorted(i for i, t in docs.items() if first[t] != i)
        self.assertEqual(copies, sorted(e["exact_duplicate_ids"]))
        self.assertTrue(e["near_duplicate_ids"])


class PercentileTest(unittest.TestCase):

    def test_known_values(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_matches_inclusive_quartiles(self):
        rng = random.Random(11)
        for n in (2, 3, 10, 101):
            xs = [rng.lognormvariate(0, 1) for _ in range(n)]
            want = statistics.quantiles(xs, n=4, method="inclusive")
            got = [stats.percentile(xs, p) for p in (25, 50, 75)]
            for g, w in zip(got, want):
                self.assertAlmostEqual(g, w)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))

    def test_op_metrics_weigh_every_kind_the_same(self):
        m = stats.op_metrics({"a": [0.1, 0.2, 0.3], "b": [10.0]}, ["a", "b"],
                             lambda k: 60.0, 12.0, 4)
        self.assertAlmostEqual(m["op_p50_gmean_ms"]["value"], 1000 * (0.2 * 10.0) ** 0.5)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 4 / 12.0)

    def test_op_metrics_charge_failed_and_missing_kinds(self):
        # a failed op carries its deadline; a kind that never ran is
        # charged its deadline
        m = stats.op_metrics({"a": [0.1, 0.2, 60.0, 60.0]}, ["a", "b"],
                             {"a": 60.0, "b": 20.0}.get, 12.0, 2)
        self.assertAlmostEqual(m["op_p50_gmean_ms"]["value"], 1000 * (30.1 * 20.0) ** 0.5)

    def test_overhead_compares_kinds_that_ran_both_ways(self):
        m = stats.overhead({"a": [1.0, 1.0], "b": [2.0], "c": [9.0]},
                           {"a": [1.21], "b": [2.0, 2.0], "d": [1.0]})
        self.assertAlmostEqual(m["trace.overhead_frac"]["value"], 0.1)
        self.assertEqual(stats.overhead({"a": [1.0]}, {"b": [1.0]}), {})

    def test_kind_metrics_pool_an_ops_variants(self):
        m = stats.kind_metrics({"search.a": [0.1, 0.3], "search.b": [0.2],
                                "profile.a": [5.0]}, {"search": "s"})
        self.assertEqual(set(m), {"s_p50_ms", "s_p90_ms"})
        self.assertAlmostEqual(m["s_p50_ms"]["value"], 200.0)

    def test_empty_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SchemaTest(unittest.TestCase):

    def test_keys(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer", "workloads")
                 for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_metrics_match_run_py(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]},
                         {k: v[0] for k, v in run.PER_LAYER.items()})

    def test_workloads_are_run_py_workloads(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], run.EVERY)

    def test_every_metric_is_printed(self):
        """Each workload prints every end-to-end metric, and every per-layer
        metric when traced, from what the driver reports."""
        for w in run.EVERY:
            e2e = {n: {"value": 1.5, "unit": u} for n, u in run.END_TO_END.items()}
            out, missing = run.select_metrics(w, False, e2e)
            self.assertEqual(missing, [])
            self.assertEqual(set(out), set(run.END_TO_END))
            layer = {n: {"value": 1.5, "unit": u} for n, (u, on) in run.PER_LAYER.items()
                     if w in on}
            out, missing = run.select_metrics(w, True, layer)
            self.assertEqual(missing, [])
            self.assertTrue(set(run.PER_LAYER) <= set(out))
            for n, (u, on) in run.PER_LAYER.items():
                self.assertEqual(out[n]["unit"], u)
                if w not in on:
                    self.assertEqual(out[n]["value"], 0.0)

    def test_a_missing_metric_is_reported(self):
        out, missing = run.select_metrics("search", False, {})
        self.assertEqual(sorted(missing), sorted(run.END_TO_END))


if __name__ == "__main__":
    unittest.main()
