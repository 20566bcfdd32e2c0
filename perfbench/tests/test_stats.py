import unittest

from pb import stats


class PercentileTest(unittest.TestCase):
    def test_value_and_sample_count(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), (2, 3))
        self.assertEqual(stats.percentile([5], 90), (5, 1))

    def test_linear_interpolation_between_ranks(self):
        v, n = stats.percentile(list(range(1, 11)), 90)
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 50)[0], 2.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean(iter([2.0, 8.0])), 4.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


def span(i, parent, start, end, name="s", layer="l", run=0):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name, "layer": layer, "run": run}


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(5, 6)], 0, 4), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [span(1, -1, 0, 100, "query"),
                 span(2, 1, 0, 30, "construct"),
                 span(3, 1, 30, 100, "action"),
                 span(4, 3, 40, 60, "job"),
                 span(5, 3, 50, 70, "job"),
                 span(6, 5, 50, 55, "stage")]
        own = stats.self_times(spans)
        self.assertEqual(own, {1: 0, 2: 30, 3: 40, 4: 20, 5: 15, 6: 5})

    def test_children_outside_the_parent_do_not_count(self):
        own = stats.self_times([span(1, -1, 10, 20), span(2, 1, 0, 15)])
        self.assertEqual(own[1], 5)

    def test_self_time_by_layer(self):
        spans = [span(1, -1, 0, 10, layer="a"), span(2, 1, 0, 4, layer="b"),
                 span(3, -1, 0, 5, layer="a")]
        self.assertEqual(stats.self_time_by(spans, "layer"), {"a": 11, "b": 4})

    def test_uncovered_share(self):
        root = span(1, -1, 0, 100)
        leaves = [span(2, 1, 10, 30), span(3, 1, 20, 50)]
        self.assertAlmostEqual(stats.uncovered_share(root, leaves), 0.6)


if __name__ == "__main__":
    unittest.main()
