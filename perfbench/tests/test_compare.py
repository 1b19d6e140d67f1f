"""Unit tests of the comparison tool and of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests/test_compare.py
"""
import io
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def dump(wl, seed, trace=0, **metrics):
    return {"workload": wl, "seed": seed, "trace": trace, "metrics": metrics}


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(compare.quartiles(xs), (q1, q2, q3))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([2.0]), (2.0, 2.0, 2.0))


class PairsWonTest(unittest.TestCase):
    def test_lower_is_better(self):
        base = {1: 10.0, 2: 10.0, 3: 10.0, 4: 10.0}
        new = {1: 9.0, 2: 11.0, 3: 10.0, 4: 8.0}
        self.assertEqual(compare.pairs_won(base, new, "lower"), (2, 1, 1))

    def test_higher_is_better(self):
        self.assertEqual(compare.pairs_won({1: 1.0, 2: 1.0}, {1: 2.0, 2: 0.5}, "higher"), (1, 1, 0))

    def test_unmatched_seeds_are_ignored(self):
        self.assertEqual(compare.pairs_won({1: 1.0}, {2: 0.5}), (0, 0, 0))


class DiffTest(unittest.TestCase):
    def test_medians_change_and_wins(self):
        base = [dump("etl", s, wall_s=10.0 + s) for s in range(1, 6)]
        new = [dump("etl", s, wall_s=9.0 + s) for s in range(1, 6)]
        buf = io.StringIO()
        rows = compare.diff(base, new, out=buf)
        (wl, m, aq, bq, change, spread, won, n, better), = rows
        self.assertEqual((wl, m, won, n), ("etl", "wall_s", 5, 5))
        self.assertEqual((aq[1], bq[1]), (13.0, 12.0))
        self.assertAlmostEqual(change, -1 / 13)
        self.assertIn("wall_s", buf.getvalue())

    def test_traced_runs_are_kept_apart(self):
        base = [dump("etl", 1, wall_s=1.0), dump("etl", 1, trace=1, **{"scan.s": 2.0})]
        rows = compare.diff(base, base, out=io.StringIO())
        self.assertEqual([r[1] for r in rows], ["wall_s"])


class TopLayersTest(unittest.TestCase):
    def traced(self):
        layers = {"build.s": 1.0, "sink.s": 3.0, "jobs.wall_s": 2.5, "plan.analysis_s": 0.5,
                  "plan.optimizer_s": 0.2, "plan.physical_s": 0.1, "scan.s": 1.5,
                  "exec.sort_s": 0.4, "build.self_s": 0.6, "sink.self_s": 0.5}
        execs = [{"query": "q_a", "timed": True, "layers": layers},
                 {"query": "q_a", "timed": False, "layers": layers},
                 {"query": "q_b", "timed": True, "layers": {"build.s": 0.1, "sink.s": 0.1}}]
        return {"result": {"trace": {"execs": execs}}}

    def test_ranks_layers_and_explains(self):
        (q, n, b, s, explained, layers), _ = compare.top_layers(self.traced())
        self.assertEqual((q, n, b, s), ("q_a", 1, 1.0, 3.0))
        self.assertAlmostEqual(explained, (2.5 + 0.6 + 0.5) / 4.0)
        self.assertEqual([k for k, _ in layers[:2]], ["scan.s", "build.self_s"])
        self.assertEqual([k for k, _ in layers[-2:]], ["jobs.wall_s", "plan.total_s"])
        self.assertAlmostEqual(layers[-1][1], 0.8)

    def test_one_query(self):
        self.assertEqual([r[0] for r in compare.top_layers(self.traced(), "q_b")], ["q_b"])

    def test_untraced_dump_is_refused(self):
        with self.assertRaises(ValueError):
            compare.top_layers({"result": {}})


class OverheadTest(unittest.TestCase):
    def test_traced_minus_untraced(self):
        ds = [dump("etl", 1, wall_s=10.0), dump("etl", 2, wall_s=12.0),
              dump("etl", 1, trace=1, **{"trace.wall_s": 11.5})]
        t, p, share = compare.overhead(ds)["etl"]
        self.assertEqual((t, p), (11.5, 11.0))
        self.assertAlmostEqual(share, 0.5 / 11.0)


class HelpersTest(unittest.TestCase):
    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual((run.pct(xs, 50), run.pct(xs, 90)), (50, 90))
        self.assertEqual(run.pct([7.0], 90), 7.0)

    def test_zipf_sequence_is_seeded_and_skewed(self):
        pool = [f"q{i}" for i in range(50)]
        a = run.zipf_sequence(pool, 400, 3)
        self.assertEqual(a, run.zipf_sequence(pool, 400, 3))
        self.assertNotEqual(a, run.zipf_sequence(pool, 400, 4))
        top = max(a.count(q) for q in set(a))
        self.assertGreater(top, 400 / 50 * 4)

    def test_char_perms_are_distinct_bijections(self):
        perms = gen.char_perms(40)
        self.assertEqual(perms[0], gen.ALPHA)
        self.assertEqual(len(set(perms)), 40)
        self.assertTrue(all(sorted(p) == sorted(gen.ALPHA) for p in perms))

    def test_generator_is_deterministic_and_derives_copies(self):
        a = gen.base_tables(0.0005, 5)
        b = gen.base_tables(0.0005, 5)
        self.assertTrue(all(a[t].equals(b[t]) for t in gen.TABLES))
        x2 = gen.derive(a, 2)
        n = a["orders"].num_rows
        self.assertEqual(x2["orders"].num_rows, 2 * n)
        self.assertEqual(x2["region"].num_rows, a["region"].num_rows)
        keys = x2["orders"]["o_orderkey"].to_pylist()
        self.assertEqual(len(set(keys)), 2 * n)
        # copy 1 of a lineitem row joins copy 1 of its order
        li = x2["lineitem"]["l_orderkey"].to_pylist()
        self.assertEqual(li[a["lineitem"].num_rows], li[0] + n)

    def test_check_flags_each_kind_of_wrong_output(self):
        def ex(q, d, err=None):
            return {"query": q, "digest": d, "error": err}
        res = {"warmup": [ex("q_a", "1:a:b")],
               "execs": [ex("q_a", "1:a:b"), ex("q_a", "1:a:c"), ex("q_b", "2:x:y"),
                         ex("q_c", "", "boom")],
               "oracle": {"q_b": "2:x:z"}}
        failed, problems = run.check(res, "nowhere", 1)
        self.assertEqual(failed, 3)
        self.assertEqual(len(problems), 3)


if __name__ == "__main__":
    unittest.main()
