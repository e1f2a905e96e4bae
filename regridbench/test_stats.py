"""Unit checks for the benchmark's statistics and its oracle comparison:
python3 regridbench/run.py --selftest"""

import unittest

import run
import stats


def span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "start_ns": start, "end_ns": end}


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 20, 37, 100, 1000):
            values = [float(v) for v in range(n)]
            value, pct, count = stats.tail(values)
            self.assertEqual(count, n)
            self.assertEqual(sum(v > value for v in values), stats.TAIL_BEYOND)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_highest_such_percentile(self):
        # one rank higher would leave only nine samples beyond
        values = [float(v) for v in range(100)]
        value, pct, _ = stats.tail(values)
        self.assertEqual((value, pct), (89.0, 90.0))

    def test_order_of_samples_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(values)[0], 1.0)

    def test_too_few_samples_support_no_tail(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_from_their_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 90),
                 span(3, 1, 15, 25)]
        got = stats.self_times(spans)
        for id_, want in {0: 30e-9, 1: 20e-9, 2: 40e-9, 3: 10e-9}.items():
            self.assertAlmostEqual(got[id_], want, places=15)
        # the self times of an op's spans add up to the op's wall time
        self.assertAlmostEqual(sum(got.values()), 100e-9, places=15)

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(7, -1, 5, 12)])[7], 7e-9, places=15)

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 30e-9, places=15)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(0, -1, 10, 50), span(1, 0, 0, 20)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 30e-9, places=15)


class Spread(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
        self.assertEqual((s["q1"], s["median"], s["q3"]), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(s["iqr_over_median"], 1.0)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()

    def test_columns_in_name_order_rows_in_any_order(self):
        got = run.rows(self.con, "SELECT * FROM (VALUES (2, 'x'), (1, 'y')) t(b, a)")
        want = run.rows(self.con, "SELECT * FROM (VALUES ('y', 1), ('x', 2)) t(a, b)")
        self.assertEqual(got[0], ["a", "b"])
        self.assertIsNone(run.mismatch(got, want))

    def test_a_changed_value_is_a_mismatch(self):
        got = run.rows(self.con, "SELECT 1 AS a, 0.5 AS p")
        want = run.rows(self.con, "SELECT 1 AS a, 0.5000000001 AS p")
        self.assertIn("row 0", run.mismatch(got, want))

    def test_an_empty_result_is_a_mismatch(self):
        empty = run.rows(self.con, "SELECT 1 AS a WHERE false")
        self.assertEqual(run.mismatch(empty, empty), "empty result")


if __name__ == "__main__":
    unittest.main()
