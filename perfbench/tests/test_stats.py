"""Self-tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 11.0, 10.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, beyond, n), (1.0, 10, 12))
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end):
        return {"id": id, "parent": parent, "start": start, "end": end}

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span("q", None, 0.0, 10.0),
                 self.span("a", "q", 1.0, 4.0),
                 self.span("b", "q", 3.0, 6.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["q"], 5.0)
        self.assertAlmostEqual(st["a"], 3.0)
        self.assertAlmostEqual(st["b"], 3.0)

    def test_tree_self_times_add_up_to_root(self):
        spans = [self.span("q", None, 0.0, 10.0),
                 self.span("build", "q", 0.0, 2.0),
                 self.span("action", "q", 2.0, 10.0),
                 self.span("job", "action", 2.5, 9.0),
                 self.span("stage", "job", 3.0, 8.0),
                 # a job event stamped past its parent is clipped to it
                 self.span("late", "action", 9.5, 10.4)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(sum(st.values()), 10.0)
        self.assertAlmostEqual(st["late"], 0.5)
        self.assertAlmostEqual(st["stage"], 5.0)
        self.assertAlmostEqual(st["job"], 1.5)

    def test_layer_self_times_count_overlap_once(self):
        spans = [self.span("q", None, 0.0, 10.0),
                 self.span("build", "q", 0.0, 2.0),
                 self.span("action", "q", 2.0, 10.0),
                 self.span("j1", "action", 3.0, 7.0),
                 self.span("j2", "action", 5.0, 9.0),
                 self.span("j0", "build", 0.5, 1.5)]
        for sp, name in zip(spans, ["query", "operators.build", "action", "exec.job",
                                    "exec.job", "exec.job"]):
            sp["name"] = name
        lt = stats.layer_self_times(spans)
        self.assertAlmostEqual(lt["query"], 0.0)
        self.assertAlmostEqual(lt["operators.build"], 1.0)
        self.assertAlmostEqual(lt["action"], 2.0)
        self.assertAlmostEqual(lt["exec.job"], 7.0)
        self.assertAlmostEqual(sum(lt.values()), 10.0)
        # per-span self times count the j1/j2 overlap twice
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 12.0)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (0.5, 2), (3, 4), (4, 4)]), 3.0)
        self.assertEqual(stats.union_length([]), 0.0)


class RatioTest(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class SamplingTest(unittest.TestCase):
    def test_timed_order_is_a_seeded_permutation(self):
        names = [f"q{i}" for i in range(30)]
        o1 = stats.timed_order(names, 1)
        self.assertEqual(sorted(o1), sorted(names))
        self.assertEqual(o1, stats.timed_order(names, 1))
        self.assertNotEqual(o1, stats.timed_order(names, 2))


if __name__ == "__main__":
    unittest.main()
