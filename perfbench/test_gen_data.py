"""The fixed dataset is reproducible: two generations are byte-identical.

Run from the repository root: python3 -m unittest perfbench/test_gen_data.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen_data  # noqa: E402


class GenDataTest(unittest.TestCase):
    def test_two_generations_are_byte_identical(self):
        tmp_root = os.path.join(os.path.dirname(BENCH), ".bench_build", "tmp")
        os.makedirs(tmp_root, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=tmp_root) as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen_data.main(a)
            gen_data.main(b)
            for name in gen_data.DATASETS:
                files = sorted(os.listdir(os.path.join(a, name)))
                self.assertEqual(len(files), 10)
                _, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, name), os.path.join(b, name), files, shallow=False)
                self.assertEqual(mismatch + errors, [])

    def test_row_counts(self):
        import numpy as np
        rows = gen_data.DATASETS["serve"]
        docs = gen_data.documents(np.random.default_rng(gen_data.DATA_SEED), rows)
        self.assertEqual(docs.num_rows, 2500)
        texts = docs.column("text").to_pylist()
        self.assertEqual(len(set(texts)), 2500 - 8)  # eight exact duplicates


if __name__ == "__main__":
    unittest.main()
