#!/usr/bin/env python3
"""Tests of the benchmark's input generator: the same seed gives the same
rows, another seed other rows, and generation writes nothing outside its
output directory.

Run from the root of a checkout: python3 perfbench/test_gen.py
"""
import os
import shutil
import unittest

import gen

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work",
                    f"test-{os.getpid()}")
SCALE = 0.02


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        os.makedirs(WORK)
        with open(os.path.join(WORK, "sentinel"), "w") as f:
            f.write("unchanged")
        cls.stats = gen.generate(os.path.join(WORK, "a"), 7, scale=SCALE)
        gen.generate(os.path.join(WORK, "b"), 7, scale=SCALE)
        gen.generate(os.path.join(WORK, "c"), 8, tables=["orders"],
                     scale=SCALE)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)

    def path(self, run, table):
        return os.path.join(WORK, run, f"{table}.parquet")

    def test_same_seed_same_rows(self):
        for t in gen.ALL:
            self.assertEqual(gen.row_hash(self.path("a", t)),
                             gen.row_hash(self.path("b", t)), t)

    def test_other_seed_other_rows(self):
        self.assertNotEqual(gen.row_hash(self.path("a", "orders")),
                            gen.row_hash(self.path("c", "orders")))

    def test_stats_match_files(self):
        n = gen.counts(SCALE)
        for t, s in self.stats.items():
            self.assertEqual(s["bytes"], os.path.getsize(self.path("a", t)))
            self.assertEqual(s["rows"], n[t], t)

    def test_writes_only_its_output(self):
        self.assertEqual(sorted(os.listdir(WORK)), ["a", "b", "c", "sentinel"])
        with open(os.path.join(WORK, "sentinel")) as f:
            self.assertEqual(f.read(), "unchanged")


if __name__ == "__main__":
    unittest.main()
