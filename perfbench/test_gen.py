"""Tests of the seeded input generators: python3 -m unittest perfbench/test_gen.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


class FebrlGeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a = gen.febrl_csv(gen.febrl_records(7, 300, 2.0))
        self.assertEqual(a, gen.febrl_csv(gen.febrl_records(7, 300, 2.0)))
        self.assertNotEqual(a, gen.febrl_csv(gen.febrl_records(8, 300, 2.0)))

    def test_same_seed_same_table_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "a"), 3, 200, 50)
            gen.write_tables(os.path.join(d, "b"), 3, 200, 50)
            for t in ("customer.parquet", "documents.parquet"):
                with open(os.path.join(d, "a", t), "rb") as x, open(os.path.join(d, "b", t), "rb") as y:
                    self.assertEqual(x.read(), y.read())

    def test_block_share_sides_of_the_chooser_threshold(self):
        for seed in range(5):
            uniform = gen.febrl_records(seed, run.UNIFORM_RECORDS, 0.0)
            skewed = gen.febrl_records(seed, run.SKEWED_RECORDS, run.SKEW_ZIPF)
            self.assertLess(gen.block_share(uniform), 0.5)
            self.assertGreater(gen.block_share(skewed), 0.5)

    def test_febrl_layout(self):
        rows = gen.febrl_records(1, 200, 0.0)
        lines = gen.febrl_csv(rows).splitlines()
        self.assertEqual(lines[0].split(","), gen.FEBRL_COLUMNS)
        ids = set()
        for line in lines[1:]:
            fields = line.split(",")
            self.assertEqual(len(fields), len(gen.FEBRL_COLUMNS))
            self.assertRegex(fields[0], r"^rec-\d+-(org|dup-\d+)$")
            ids.add(fields[0])
        self.assertEqual(len(ids), 200)
        self.assertTrue(any("-dup-" in i for i in ids))

    def test_duplicates_keep_blocking_fields(self):
        rows = gen.febrl_records(2, 300, 2.0)
        orgs = {r["rec_id"].split("-")[1]: r for r in rows if r["rec_id"].endswith("-org")}
        for r in rows:
            org = orgs[r["rec_id"].split("-")[1]]
            self.assertEqual((r["blocking_number"], r["state"]),
                             (org["blocking_number"], org["state"]))


if __name__ == "__main__":
    unittest.main()
