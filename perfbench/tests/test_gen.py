import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def gen(self, workload, seed, name):
        d = os.path.join(self.tmp.name, name)
        return gen.generate(workload, seed, d), d

    def assertSameFiles(self, a, b):
        self.assertEqual(files(a), files(b))
        for f in files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_same_seed_gives_identical_drop_files(self):
        m1, a = self.gen("ingest_stream", 3, "a")
        m2, b = self.gen("ingest_stream", 3, "b")
        self.assertEqual(m1, m2)
        self.assertSameFiles(a, b)

    def test_different_seed_gives_different_drop_files(self):
        _, a = self.gen("ingest_stream", 3, "a")
        _, b = self.gen("ingest_stream", 4, "b")
        first = "drop/part-00000.jsonl"
        self.assertFalse(filecmp.cmp(os.path.join(a, first), os.path.join(b, first),
                                     shallow=False))

    def test_planted_counts_match_the_files(self):
        meta, d = self.gen("ingest_stream", 5, "a")
        lines = []
        for f in sorted(os.listdir(os.path.join(d, "drop"))):
            with open(os.path.join(d, "drop", f)) as fh:
                lines += fh.read().splitlines()
        bad = 0
        for line in lines:
            try:
                json.loads(line)
            except ValueError:
                bad += 1
        self.assertEqual(len(lines), meta["events"])
        self.assertEqual(bad, meta["corrupt"])
        self.assertGreater(meta["late"], 0)

    def test_changed_orders_follow_the_seed(self):
        m1, a = self.gen("backfill", 9, "a")
        m2, b = self.gen("backfill", 9, "b")
        m3, _ = self.gen("backfill", 10, "c")
        self.assertEqual(m1["changed"], m2["changed"])
        self.assertSameFiles(a, b)
        self.assertNotEqual(m1["changed"], m3["changed"])
        self.assertEqual(len(m1["changed"]), int(m1["orders"] * gen.CHANGED_SHARE))

    def test_tables_follow_the_seed(self):
        _, a = self.gen("query_mix", 1, "a")
        _, b = self.gen("query_mix", 1, "b")
        _, c = self.gen("query_mix", 2, "c")
        self.assertSameFiles(a, b)
        f = "sf/documents.parquet"
        self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                     shallow=False))


if __name__ == "__main__":
    unittest.main()
