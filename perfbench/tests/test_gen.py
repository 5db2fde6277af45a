import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def run_gen(self, workload, seed, name):
        out = os.path.join(self.dir, name)
        return gen.generate(workload, seed, out), gen.digest(out)

    def test_same_seed_writes_identical_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, da = self.run_gen(w, 7, w + "-a")
                b, db = self.run_gen(w, 7, w + "-b")
                self.assertEqual(a, b)
                self.assertEqual(da, db)
                _, dc = self.run_gen(w, 8, w + "-c")
                self.assertNotEqual(da, dc)

    def test_stamp_counts_rows_bytes_and_files(self):
        stamp, _ = self.run_gen("curate_serve", 1, "cs")
        self.assertEqual(stamp["documents"]["files"], gen.FILES)
        self.assertEqual(stamp["documents"]["rows"], int(gen.DOCS * (1 + 2 * gen.PLANTED)))
        self.assertGreater(stamp["documents"]["bytes"], 0)
        stamp, _ = self.run_gen("rbm_impute", 1, "rbm")
        self.assertEqual(stamp["lineitem"], {
            "rows": gen.LINEITEM_ROWS, "files": 1,
            "bytes": os.path.getsize(os.path.join(
                self.dir, "rbm", "inputs", "lineitem", "part-00000.parquet"))})

    def test_planted_groups(self):
        import pyarrow.parquet as pq
        gen.generate("curate_serve", 3, self.dir)
        for name, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
            t = pq.read_table(os.path.join(self.dir, "truth", name)).to_pydict()
            n = len(t[id_col])
            base = sum(k == "base" for k in t["kind"])
            self.assertEqual(n, base + 2 * int(base * gen.PLANTED))
            for i, g, k in zip(t[id_col], t["group"], t["kind"]):
                # copies point at an original with a smaller id
                self.assertTrue(g == i if k == "base" else g < base <= i)
            copies = [g for g, k in zip(t["group"], t["kind"]) if k != "base"]
            self.assertEqual(len(copies), len(set(copies)))


if __name__ == "__main__":
    unittest.main()
