"""Determinism test for the benchmark's input generator.

Run from the repository root:  python3 -m unittest perfbench/test_gen.py
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SMALL = {
    "stream": {"orders": 500, "appends": 2, "append_rows": 20, "files": 4},
    "batch_mix": {"orders": 300, "documents": 40, "embeddings": 40},
}


def hashes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") or f == "inputs.json":
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = gen.file_sha256(p)
    return out


class GeneratorTest(unittest.TestCase):
    def run_gen(self, workload, seed, params):
        d = tempfile.mkdtemp(prefix="gen_test_")
        self.addCleanup(lambda: __import__("shutil").rmtree(d, True))
        gen.generate(workload, seed, d, params)
        return d

    def test_same_seed_same_bytes(self):
        for workload, params in [("aged", SMALL["stream"]),
                                 ("batch_mix", SMALL["batch_mix"])]:
            a = hashes(self.run_gen(workload, 7, params))
            b = hashes(self.run_gen(workload, 7, params))
            self.assertTrue(a)
            self.assertEqual(a, b, workload)

    def test_other_seed_other_bytes(self):
        for workload, params in [("aged", SMALL["stream"]),
                                 ("batch_mix", SMALL["batch_mix"])]:
            a = hashes(self.run_gen(workload, 7, params))
            b = hashes(self.run_gen(workload, 8, params))
            self.assertEqual(a.keys(), b.keys())
            for name in a:
                self.assertNotEqual(a[name], b[name], f"{workload}/{name}")

    def test_log_files_shape(self):
        d = self.run_gen("fresh", 3, SMALL["stream"])
        ids, ops = [], {}
        for k in range(SMALL["stream"]["files"]):
            t = pq.read_table(f"{d}/stage/log-{k:06d}.parquet").to_pydict()
            self.assertEqual(len(t["cdc_id"]), gen.BATCH_SIZE)
            ids += t["cdc_id"]
            for op in t["operation"]:
                ops[op] = ops.get(op, 0) + 1
        self.assertEqual(ids, list(range(1, len(ids) + 1)))
        self.assertEqual(set(ops), set(gen.OP_MIX))
        self.assertGreater(ops["INSERT"], ops["UPDATE"])
        self.assertGreater(ops["UPDATE"], ops["DELETE"])


if __name__ == "__main__":
    unittest.main()
