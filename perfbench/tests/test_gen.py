"""The generator's seed rule: the same seed gives the same inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench")


class Generator(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, batches=2):
        out = os.path.join(self.tmp.name, name)
        return out, gen.generate(out, seed, batches)

    def test_same_seed_same_inputs(self):
        a, ma = self.gen("a", 7)
        b, mb = self.gen("b", 7)
        self.assertEqual(ma, mb)
        for sub in ("input", "ingest"):
            files = sorted(os.listdir(os.path.join(a, sub)))
            self.assertEqual(files, sorted(os.listdir(os.path.join(b, sub))))
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, sub), os.path.join(b, sub), files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_relabels_keys_consistently(self):
        a, _ = self.gen("a", 7, 0)
        b, _ = self.gen("b", 8, 0)
        la = pq.read_table(os.path.join(a, "input", "lineitem.parquet")).to_pandas()
        lb = pq.read_table(os.path.join(b, "input", "lineitem.parquet")).to_pandas()
        self.assertFalse(la["l_orderkey"].equals(lb["l_orderkey"]))
        for d in (a, b):
            orders = pq.read_table(os.path.join(d, "input", "orders.parquet")).to_pandas()
            li = pq.read_table(os.path.join(d, "input", "lineitem.parquet")).to_pandas()
            self.assertTrue(set(li["l_orderkey"]) <= set(orders["o_orderkey"]))

    def test_batches_hold_out_their_novel_rows(self):
        out, meta = self.gen("a", 7, 2)
        docs = pq.read_table(os.path.join(out, "input", "documents.parquet")).to_pandas()
        batch = pq.read_table(os.path.join(out, "ingest", "docs_000.parquet")).to_pandas()
        self.assertEqual(len(batch), gen.BATCH_ROWS)
        self.assertFalse(set(batch["doc_id"]) & set(docs["doc_id"]))
        exact = set(meta["exact_copy_doc_ids"]) & set(batch["doc_id"])
        self.assertEqual(len(exact), gen.EXACT)
        text = batch.set_index("doc_id").loc[exact.pop(), "text"]
        self.assertIn(text, set(docs["text"]))


if __name__ == "__main__":
    unittest.main()
