"""Generator tests: run with `python3 -m unittest discover -s perfbench/tests`."""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def digest(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENS = {
    "bulk": lambda out, seed: gen.gen_bulk(out, seed, rows=5_000, warm_rows=500),
    "suite": lambda out, seed: gen.gen_suite(out, seed, scale=0.02),
}


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for name, g in GENS.items():
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                g(a, 7)
                g(b, 7)
                da, db = digest(a), digest(b)
                self.assertTrue(da, name)
                self.assertEqual(da, db, name)

    def test_other_seed_other_keys(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            GENS["bulk"](a, 7)
            GENS["bulk"](b, 8)
            ka = set(pq.read_table(os.path.join(a, "orders_bulk.parquet"))["o_orderkey"].to_pylist())
            kb = set(pq.read_table(os.path.join(b, "orders_bulk.parquet"))["o_orderkey"].to_pylist())
            self.assertEqual(len(ka), 5_000)
            self.assertFalse(ka & kb)
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            GENS["suite"](a, 7)
            GENS["suite"](b, 8)
            self.assertNotEqual(digest(a), digest(b))

    def test_expectation_matches_the_file(self):
        with tempfile.TemporaryDirectory() as a:
            e = GENS["bulk"](a, 3)
            t = pq.read_table(os.path.join(a, e["file"]))
            self.assertEqual(t.num_rows, e["rows"])
            self.assertEqual(sum(round(p * 100) for p in t["o_totalprice"].to_pylist()),
                             e["price_cents"])
            with open(os.path.join(a, "expect.json")) as fh:
                self.assertEqual(json.load(fh), e)


if __name__ == "__main__":
    unittest.main()
