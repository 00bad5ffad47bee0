"""The generator is a pure function of the seed.

  python3 -m unittest perfbench/test_gen.py
"""
import os
import tempfile
import unittest

import gen

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".bench_work")


class SeededInputs(unittest.TestCase):
    def digests(self, kind, seed, work):
        out = gen.generate(kind, seed, work)
        tables = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        return {t: gen.row_digest(os.path.join(out, t)) for t in tables}

    def test_same_seed_same_rows_other_seed_other_rows(self):
        os.makedirs(WORK, exist_ok=True)
        for kind in ("tables", "corpus"):
            with self.subTest(kind=kind), tempfile.TemporaryDirectory(dir=WORK) as a, \
                    tempfile.TemporaryDirectory(dir=WORK) as b:
                first = self.digests(kind, 7, a)
                self.assertEqual(first, self.digests(kind, 7, b))
                other = self.digests(kind, 8, b)
                self.assertEqual(first.keys(), other.keys())
                # region and nation are fixed dimensions; everything else moves
                moved = [t for t in first if first[t] != other[t]]
                self.assertTrue(moved)
                self.assertTrue(all(t in moved for t in first
                                    if t not in ("region.parquet", "nation.parquet")))


if __name__ == "__main__":
    unittest.main()
