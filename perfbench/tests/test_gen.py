"""Self-checks for the seeded input generator.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__)))

    def tearDown(self):
        self.tmp.cleanup()

    def make(self, name, seed):
        path = os.path.join(self.tmp.name, name)
        return path, gen.generate(path, seed)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, ma = self.make("a", 7)
        b, mb = self.make("b", 7)
        c, mc = self.make("c", 8)
        self.assertEqual(gen.digest(a), gen.digest(b))
        self.assertEqual(ma, mb)
        self.assertNotEqual(gen.digest(a), gen.digest(c))
        self.assertNotEqual(ma["planted_pairs"], mc["planted_pairs"])

    def test_planted_pairs_are_near_duplicates(self):
        import pyarrow.parquet as pq
        path, m = self.make("d", 3)
        docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pydict()
        by_id = {i: (t, l, s) for i, t, l, s in
                 zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"])}
        self.assertEqual(len(m["planted_pairs"]),
                         m["neardup_families"] * m["copies_per_family"])
        for a, b in m["planted_pairs"]:
            ta, tb = by_id[a][0].split(), by_id[b][0].split()
            self.assertEqual(len(ta), len(tb))
            changed = sum(x != y for x, y in zip(ta, tb)) / len(ta)
            self.assertLessEqual(changed, 4 * m["perturbation_rate"] + 0.1)
            self.assertEqual(by_id[a][1:], by_id[b][1:])


if __name__ == "__main__":
    unittest.main()
