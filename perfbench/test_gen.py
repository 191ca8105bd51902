"""Generator tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

import gen


class GenTest(unittest.TestCase):
    def test_inputs_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as root:
            def make(seed, name):
                d = Path(root) / name
                gen.ensure("daily_dedup", seed, d)
                return d
            a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
            for f in ("planted.tsv", "props.json"):
                self.assertEqual((a / f).read_text(), (b / f).read_text())
            self.assertNotEqual((a / "planted.tsv").read_text(), (c / "planted.tsv").read_text())
            day0 = pq.read_table(a / "docs" / "day0")
            self.assertEqual(day0.num_rows, gen.SIZES["daily_dedup"]["day0_docs"])

    def test_planted_chain_geometry(self):
        with tempfile.TemporaryDirectory() as root:
            d = Path(root) / "d"
            gen.ensure("daily_dedup", 3, d)
            text = {}
            for f in (d / "docs").glob("day*/*.parquet"):
                t = pq.read_table(f).to_pydict()
                text.update(zip(t["doc_id"], t["text"]))
            chains = [[int(x) for x in line.split("\t")[1].split(",")]
                      for line in (d / "planted.tsv").read_text().splitlines()
                      if line.startswith("chain")]
            self.assertEqual(len(chains[0]), gen.SIZES["daily_dedup"]["long_chain"])
            self.assertEqual(min(chains[0]), chains[0][0])   # min id at an end
            for ch in chains:
                sh = [gen.shingles(text[m]) for m in ch]
                for x, y in zip(sh, sh[1:]):
                    self.assertGreaterEqual(gen.jaccard(x, y), 0.8)
                for x, y in zip(sh, sh[2:]):
                    self.assertLess(gen.jaccard(x, y), 0.8)
            props = json.loads((d / "props.json").read_text())
            self.assertEqual(props["longest_chain_diameter"], gen.SIZES["daily_dedup"]["long_chain"] - 1)

    def test_ann_exact_top_k(self):
        with tempfile.TemporaryDirectory() as root:
            d = Path(root) / "a"
            gen.ensure("ann_search", 5, d)
            rows = (d / "expected" / "topk.tsv").read_text().splitlines()
            s = gen.SIZES["ann_search"]
            self.assertEqual(len(rows), s["batches"] * s["queries_per_batch"])
            self.assertTrue(all(len(r.split("\t")[2].split(",")) == s["k"] for r in rows))


if __name__ == "__main__":
    unittest.main()
