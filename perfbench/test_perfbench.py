"""Tests of the benchmark's own pieces: the input generator, the percentile
rule and the self-time arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import filecmp
import os
import shutil
import tempfile
import unittest

import olistgen
import stats

MULT = 0.02  # ~2 k orders: small enough to generate in a fraction of a second


def _generate(seed):
    d = tempfile.mkdtemp(prefix="olistgen-test-")
    olistgen.generate(d, seed, MULT)
    return d


def _rows(d, name):
    with open(os.path.join(d, name), newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a, cls.b, cls.c = _generate(7), _generate(7), _generate(8)
        cls.files = sorted(os.listdir(cls.a))

    @classmethod
    def tearDownClass(cls):
        for d in (cls.a, cls.b, cls.c):
            shutil.rmtree(d)

    def test_same_seed_gives_byte_identical_files(self):
        self.assertEqual(len(self.files), 9)
        match, mismatch, errors = filecmp.cmpfiles(self.a, self.b, self.files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_different_seed_gives_different_files(self):
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, self.files, shallow=False)
        # only the fixed category translation table is seed-independent
        self.assertEqual(sorted(set(self.files) - set(mismatch)),
                         ["product_category_name_translation.csv"])

    def test_row_counts_scale_with_the_multiplier(self):
        counts = olistgen.counts(1)
        self.assertEqual(counts["orders"], 99441)
        self.assertEqual(counts["products"], 32951)
        self.assertEqual(counts["sellers"], 3095)
        orders = _rows(self.a, "olist_orders_dataset.csv")
        self.assertEqual(len(orders), round(99441 * MULT))
        items = _rows(self.a, "olist_order_items_dataset.csv")
        self.assertTrue(1.05 < len(items) / len(orders) < 1.2)

    def test_reference_edge_cases_are_planted(self):
        products = _rows(self.a, "olist_products_dataset.csv")
        self.assertTrue(any(p["product_category_name"] == "" for p in products))
        self.assertTrue(any(p["product_weight_g"] == "" and p["product_length_cm"] == ""
                            for p in products))
        customers = _rows(self.a, "olist_customers_dataset.csv")
        self.assertTrue(any(20000 <= int(c["customer_zip_code_prefix"]) <= 39999
                            for c in customers))
        payments = _rows(self.a, "olist_order_payments_dataset.csv")
        self.assertTrue(any(p["payment_type"] == "not_defined" for p in payments))
        paid = {p["order_id"] for p in payments}
        orders = _rows(self.a, "olist_orders_dataset.csv")
        self.assertTrue(any(o["order_id"] not in paid for o in orders))
        per_order = {}
        for p in payments:
            per_order[p["order_id"]] = per_order.get(p["order_id"], 0) + 1
        self.assertTrue(any(n > 1 for n in per_order.values()))
        reviews = _rows(self.a, "olist_order_reviews_dataset.csv")
        reviewed = [r["order_id"] for r in reviews]
        self.assertGreater(len(reviewed), len(set(reviewed)))
        self.assertTrue(any(r["review_comment_message"] == "" for r in reviews))
        self.assertTrue(any(not r["review_comment_message"].isascii() for r in reviews))
        self.assertTrue(any("/" in r["review_creation_date"] for r in reviews))


class PercentileTest(unittest.TestCase):
    def test_reports_only_with_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(199)), 0.95))
        self.assertEqual(stats.percentile(list(range(200)), 0.95), 189)
        # ten samples beyond rank 190 of 200: 190 .. 199
        self.assertEqual(sum(1 for x in range(200) if x > 189), 10)
        self.assertEqual(stats.percentile([5.0] * 20 + [1.0], 0.5), 5.0)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(stats.percentile([1, 2, 3], 0.5))
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start_s": s, "end_s": e}

    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            self.span(0, -1, "refresh", 0.0, 10.0),
            self.span(1, 0, "query:a", 1.0, 3.0),
            self.span(2, 0, "query:b", 2.0, 5.0),   # overlaps query:a
            self.span(3, 0, "query:c", 7.0, 8.0),
            self.span(4, 1, "execute", 1.5, 2.5),
            self.span(5, 3, "execute", 7.0, 9.0),   # runs past its parent's end
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["refresh"], 10.0 - 4.0 - 1.0)
        # query:a 2 - 1, query:b 3, query:c 1 - 1 (child clipped to the parent)
        self.assertAlmostEqual(got["query"], 1.0 + 3.0 + 0.0)
        self.assertAlmostEqual(got["execute"], 1.0 + 2.0)


if __name__ == "__main__":
    unittest.main()
