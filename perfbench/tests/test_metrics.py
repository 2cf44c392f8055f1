import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10
        p, v, n = metrics.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_more_samples_allow_a_higher_percentile(self):
        p, v, _ = metrics.tail_percentile(list(range(1, 1001)))
        self.assertEqual((p, v), (99, 990.0))

    def test_order_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(list(reversed(xs))))
        self.assertEqual(metrics.tail_percentile(xs)[0], 75)

    def test_refuses_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(19)))
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 0, 50)]), {1: 50})

    def test_children_are_subtracted(self):
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30),
                                 span(3, 1, 50, 90)])
        self.assertEqual(st, {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        # two parallel stages covering 20..80 together
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 20, 60),
                                 span(3, 1, 40, 80)])
        self.assertEqual(st[1], 40)

    def test_children_are_clipped_to_the_parent(self):
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 90, 150)])
        self.assertEqual(st[1], 90)

    def test_nesting_and_by_name(self):
        ms = 1_000_000
        spans = [span(1, 0, 0, 100 * ms, "workload"),
                 span(2, 1, 0, 60 * ms, "query.q1"),
                 span(3, 2, 0, 20 * ms, "plan"),
                 span(4, 2, 20 * ms, 60 * ms, "exec"),
                 span(5, 4, 25 * ms, 55 * ms, "spark.job")]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 40 * ms, 2: 0, 3: 20 * ms, 4: 10 * ms, 5: 30 * ms})
        by = metrics.self_time_by_name(spans)
        self.assertEqual(by["spark.job"], 30.0)
        self.assertEqual(sum(by.values()), 100.0)


if __name__ == "__main__":
    unittest.main()
