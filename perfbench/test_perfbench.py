"""Self-tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import duckdb

import gen_tebis
import run
import stats


class GeneratorTest(unittest.TestCase):
    def corpus(self, root, seed):
        d = os.path.join(root, str(seed))
        rows = gen_tebis.generate(d, seed, 40)
        return d, rows

    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as t:
            (a, rows_a), (b, rows_b) = self.corpus(os.path.join(t, "x"), 5), self.corpus(os.path.join(t, "y"), 5)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(rows_a, rows_b)
            self.assertEqual(gen_tebis.catalog_ids(5), gen_tebis.catalog_ids(5))

    def test_other_seed_other_files(self):
        with tempfile.TemporaryDirectory() as t:
            (_, rows_a), (_, rows_b) = self.corpus(t, 5), self.corpus(t, 6)
            self.assertNotEqual([r["sum_v1000"] for r in rows_a], [r["sum_v1000"] for r in rows_b])
            self.assertNotEqual(gen_tebis.catalog_ids(5), gen_tebis.catalog_ids(6))

    def test_manifest_matches_content(self):
        with tempfile.TemporaryDirectory() as t:
            d, rows = self.corpus(t, 9)
            self.assertTrue(any(r["bad"] for r in rows))
            for r in rows:
                with open(os.path.join(d, r["name"]), encoding="latin-1") as fh:
                    lines = fh.read().splitlines()
                header = lines[0].split(";")
                ids = [c.rsplit(":", 1)[0].strip() for c in header[1:]]
                if r["bad"]:
                    self.assertEqual(r["ids"], ids[0])
                    self.assertEqual(r["points"], 0)
                    continue
                self.assertEqual(r["ids"].split(","), ids)
                points = sum_ts = sum_v = 0
                for line in lines[2:]:
                    cells = line.split(";")
                    ts = int(cells[0])
                    for c in cells[1:]:
                        try:
                            v = round(float(c.replace(",", ".")) * 1000)
                        except ValueError:
                            continue
                        points, sum_ts, sum_v = points + 1, sum_ts + ts * 1000, sum_v + v
                self.assertEqual((points, sum_ts, sum_v), (r["points"], r["sum_ts_ms"], r["sum_v1000"]))


class PercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 51))  # 50 samples
        pct, value = stats.tail(xs)
        self.assertEqual(pct, 80.0)
        self.assertEqual(value, 40)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 4), stats.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_too_few_samples_give_the_largest(self):
        self.assertEqual(stats.tail(list(range(19))), (100.0, 18))
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))
        self.assertIsNone(stats.tail([]))


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.driver_gap((0, 10), [(0, 4), (2, 6), (8, 9)]), 3)

    def test_jobs_clipped_to_the_window(self):
        self.assertEqual(stats.driver_gap((5, 10), [(0, 6), (9, 20), (30, 40)]), 3)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(stats.driver_gap((2, 7), []), 5)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 50),
                 self.span(4, 2, 15, 20), self.span(5, 0, 200, 210)]
        got = stats.self_times(spans)
        self.assertEqual(got, {1: 60, 2: 25, 3: 20, 4: 5, 5: 10})

    def test_self_times_add_up_to_the_root(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 30), self.span(3, 2, 5, 25), self.span(4, 1, 40, 90)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)


class OracleCheckTest(unittest.TestCase):
    def rows(self, sql):
        return run._rows(duckdb.connect().execute(sql))

    def test_equal_results_pass_in_any_row_and_column_order(self):
        a = self.rows("SELECT * FROM (VALUES (1, 'x', 0.1), (2, 'y', 0.2)) t(k, s, v)")
        b = self.rows("SELECT v, s, k FROM (VALUES (2, 'y', 0.2), (1, 'x', 0.1 + 1e-12)) t(k, s, v)")
        self.assertTrue(run.same_result(a, b))

    def test_corrupted_result_fails(self):
        good = self.rows("SELECT * FROM (VALUES (1, 'x', 0.1), (2, 'y', 0.2)) t(k, s, v)")
        for corrupt in ["SELECT * FROM (VALUES (1, 'x', 0.1), (2, 'y', 0.21)) t(k, s, v)",
                        "SELECT * FROM (VALUES (1, 'x', 0.1)) t(k, s, v)",
                        "SELECT * FROM (VALUES (1, 'x', 0.1), (2, 'z', 0.2)) t(k, s, v)",
                        "SELECT k, s, v AS w FROM (VALUES (1, 'x', 0.1), (2, 'y', 0.2)) t(k, s, v)"]:
            self.assertFalse(run.same_result(good, self.rows(corrupt)), corrupt)


if __name__ == "__main__":
    unittest.main()
