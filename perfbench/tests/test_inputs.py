"""Generator determinism, and that the output checks catch a wrong value.

Run: python3 -m unittest discover perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def _generate(seed, out):
    gen.make_tables(seed, os.path.join(out, "tables"))
    gen.make_corpus(seed, os.path.join(out, "corpus"), 300, 0.1)
    stmts = gen.make_dml(seed, os.path.join(out, "dml"), 20,
                         os.path.join(out, "tables", "lineitem.parquet"))
    gen.write_json(stmts, os.path.join(out, "dml.json"))
    gen.write_json(gen.make_reads(seed, 30), os.path.join(out, "reads.json"))


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            _generate(seed, os.path.join(cls.tmp.name, name))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _dir(self, name):
        return os.path.join(self.tmp.name, name)

    def test_same_seed_gives_byte_identical_inputs(self):
        files = _files(self._dir("a"))
        self.assertEqual(files, _files(self._dir("b")))
        self.assertGreater(len(files), 15)
        _, mismatch, errors = filecmp.cmpfiles(self._dir("a"), self._dir("b"), files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_other_inputs(self):
        files = [f for f in _files(self._dir("a")) if os.path.exists(os.path.join(self._dir("c"), f))]
        _, mismatch, _ = filecmp.cmpfiles(self._dir("a"), self._dir("c"), files, shallow=False)
        # the fixed-content tables (region, nation) may coincide; the rest differ
        self.assertGreater(len(mismatch), len(files) - 3)


class ChecksCatchWrongValues(unittest.TestCase):
    """The delta_dml check against hand-made engine records: the model's own
    read-backs pass; one wrong value fails exactly that operation."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.inputs = self.tmp.name
        os.makedirs(os.path.join(d, "tables"))
        r = np.random.default_rng(1)
        keys = np.arange(2000, dtype=np.int64)
        dates = gen.DATE0 + r.integers(0, 2000, len(keys)).astype("timedelta64[D]")
        gen._write(gen.lineitem_table(gen.lineitem_columns(r, keys, dates)),
                   os.path.join(d, "tables", "lineitem.parquet"))
        self.stmts = gen.make_dml(3, os.path.join(d, "dml"), 9,
                                  os.path.join(d, "tables", "lineitem.parquet"))
        gen.write_json(self.stmts, os.path.join(d, "dml.json"))

    def tearDown(self):
        self.tmp.cleanup()

    def _records(self, corrupt=None):
        df, cols = checks._model_base(self.inputs)
        entries, ops = [], []
        for v, s in enumerate(self.stmts):
            df = checks.apply_statement(df, s, self.inputs, cols)
            back = checks._readback(df, s)
            if s["id"] == corrupt:
                back = [(back[0][0] + 1,) + tuple(back[0][1:])]
            entries.append({"id": s["id"], "kind": s["kind"], "ok": True, "before": v + 1,
                            "after": v + 2, "readback": json.dumps(back), "adds": 1,
                            "removes": 0, "log_bytes": 1, "checkpoint": False})
            ops += [{"id": s["id"], "kind": s["kind"]}, {"id": s["id"] + "-read", "kind": "readback"}]
        want = df.groupby("l_shipmonth").agg(
            n=("l_orderkey", "size"), qty=("l_quantity", "sum"), keys=("l_orderkey", "sum"),
            lines=("l_linenumber", "sum"), parts=("l_partkey", "sum")).reset_index()
        final = [[int(a), int(b), float(c), int(e), int(f), int(g)]
                 for a, b, c, e, f, g in want.itertuples(index=False)]
        out = os.path.join(self.tmp.name, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "dml_out.json"), "w") as f:
            json.dump({"statements": entries, "final": json.dumps(final),
                       "initial_live_files": 1}, f)
        return out, ops

    def test_model_readbacks_pass(self):
        out, ops = self._records()
        attempted, failed, _, _ = checks.check_dml(self.inputs, out, ops)
        self.assertEqual((attempted, failed), (2 * len(self.stmts) + 1, 0))

    def test_a_wrong_readback_is_caught(self):
        out, ops = self._records(corrupt=self.stmts[4]["id"])
        _, failed, _, _ = checks.check_dml(self.inputs, out, ops)
        self.assertEqual(failed, 1)


if __name__ == "__main__":
    unittest.main()
