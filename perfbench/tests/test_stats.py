"""Checks of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stats import (beyond, freshness_ms, geomean, offsets, percentile,  # noqa: E402
                   self_time_us, slope, slope_se, spread, tail_ok)


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(percentile([5], 0.9), 5)
        self.assertAlmostEqual(percentile(range(1, 11), 0.9), 9.1)

    def test_order_does_not_matter(self):
        self.assertEqual(percentile([3, 1, 2], 0.5), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 0.5)

    def test_tail_needs_ten_samples_beyond_p90(self):
        self.assertEqual(beyond(100, 0.9), 10)
        self.assertEqual(beyond(99, 0.9), 9)
        self.assertTrue(tail_ok(100))
        self.assertFalse(tail_ok(99))
        self.assertTrue(tail_ok(1000))

    def test_geomean(self):
        self.assertAlmostEqual(geomean([1, 100]), 10)
        with self.assertRaises(ValueError):
            geomean([0, 1])


class FreshnessTest(unittest.TestCase):
    SEGS = [
        {"partition": 0, "start": 0, "end": 3, "scheduledUs": 1_000_000},
        {"partition": 0, "start": 3, "end": 5, "scheduledUs": 2_000_000},
        {"partition": 1, "start": 0, "end": 2, "scheduledUs": 1_500_000},
    ]

    def test_each_event_counts_once_with_its_segment_time(self):
        trig = [{"startOffset": None, "endOffset": '{"0":4,"1":2}', "commitUs": 2_500_000},
                {"startOffset": '{"0":4,"1":2}', "endOffset": '{"0":5,"1":2}',
                 "commitUs": 3_000_000}]
        got = sorted(freshness_ms(self.SEGS, trig))
        # trigger 1: offsets 0-2 of p0 (1500 ms), offset 3 of p0 (500 ms),
        # offsets 0-1 of p1 (1000 ms); trigger 2: offset 4 of p0 (1000 ms)
        self.assertEqual(got, [500, 1000, 1000, 1000, 1500, 1500, 1500])

    def test_offsets_outside_segments_are_ignored(self):
        segs = [{"partition": 0, "start": 10, "end": 12, "scheduledUs": 0}]
        trig = [{"startOffset": {0: 0}, "endOffset": {0: 11}, "commitUs": 7000}]
        self.assertEqual(freshness_ms(segs, trig), [7.0])

    def test_offset_json(self):
        self.assertEqual(offsets('{"0":12,"2":40}'), {0: 12, 2: 40})
        self.assertEqual(offsets(None), {})


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, layer, start, end):
        return {"id": id_, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span("a", "", "ops", 0, 100),
                 self.span("b", "a", "spark", 10, 40),
                 self.span("c", "a", "spark", 30, 60),   # overlaps b
                 self.span("d", "a", "jvm", 90, 130)]    # clipped to a's end
        got = self_time_us(spans)
        self.assertEqual(got["ops"], 100 - 50 - 10)
        self.assertEqual(got["spark"], 30 + 30)
        self.assertEqual(got["jvm"], 40)

    def test_orphans_count_whole(self):
        self.assertEqual(self_time_us([self.span("x", "missing", "gen", 5, 9)]), {"gen": 4})


class MiscTest(unittest.TestCase):
    def test_slope(self):
        self.assertAlmostEqual(slope([(0, 1), (1, 3), (2, 5)]), 2)
        self.assertEqual(slope([(0, 1)]), 0.0)

    def test_slope_se(self):
        self.assertEqual(slope_se([(0, 1), (1, 3), (2, 5)]), 0.0)
        # fitted slope 0.6, residuals 0.4, -1.2, 1.2, -0.4; sum of squared
        # x deviations 5: SE = sqrt(3.2 / (4 - 2) / 5)
        self.assertAlmostEqual(slope_se([(0, 1), (1, 0), (2, 3), (3, 2)]),
                               math.sqrt(3.2 / 2 / 5))
        self.assertEqual(slope_se([(0, 1), (1, 2)]), math.inf)

    def test_spread(self):
        self.assertAlmostEqual(spread([10, 10, 10, 10]), 0)
        self.assertGreater(spread([1, 2, 3, 4, 5]), 0)


if __name__ == "__main__":
    unittest.main()
