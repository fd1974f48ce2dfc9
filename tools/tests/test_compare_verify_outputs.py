"""Unit tests for tools/compare_verify_outputs.py on pyarrow-written dirs.

Run: python3 -m unittest discover -s tools/tests
"""
import importlib.util
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

_PATH = os.path.join(os.path.dirname(__file__), "..", "compare_verify_outputs.py")
_spec = importlib.util.spec_from_file_location("compare_verify_outputs", _PATH)
cvo = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cvo)


class CompareVerifyOutputsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, root, query, table, part=0, **kw):
        d = os.path.join(root, query)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, f"part-{part:05d}-x.parquet"), **kw)

    def both(self, query, parent_table, change_table):
        self.write(self.parent, query, parent_table)
        self.write(self.change, query, change_table)

    def problems(self):
        return cvo.compare(self.parent, self.change)[0]

    def test_identical_rows_with_different_footer_metadata(self):
        t = pa.table({"id": pa.array([1, 2], pa.int64()),
                      "x": pa.array([0.5, float("nan")]),
                      "v": pa.array([[1.0, 2.0], None], pa.list_(pa.float64()))})
        self.write(self.parent, "q1", t.replace_schema_metadata({"writer": "a"}))
        self.write(self.change, "q1", t.replace_schema_metadata({"writer": "b"}),
                   compression="gzip")
        self.assertEqual(self.problems(), [])
        self.assertEqual(cvo.main(["cvo", self.parent, self.change]), 0)

    def test_nan_payloads_compare_equal(self):
        import struct
        other_nan = struct.unpack(">d", bytes.fromhex("7ff8000000000001"))[0]
        self.both("q", pa.table({"x": [float("nan")]}),
                  pa.table({"x": [other_nan]}))
        self.assertEqual(self.problems(), [])

    def test_float_bits_differ(self):
        self.both("q", pa.table({"x": [0.0, 1.0]}),
                  pa.table({"x": [-0.0, 1.0]}))
        p = self.problems()
        self.assertEqual(len(p), 1)
        self.assertIn("column x differs at row 0", p[0])
        # one ulp inside a nested list
        self.both("n", pa.table({"v": [[1.0]]}),
                  pa.table({"v": [[1.0000000000000002]]}))
        self.assertEqual(len(self.problems()), 2)

    def test_row_order_matters(self):
        self.both("q", pa.table({"id": [1, 2]}), pa.table({"id": [2, 1]}))
        self.assertEqual(len(self.problems()), 1)

    def test_parts_read_in_name_order(self):
        self.write(self.parent, "q", pa.table({"id": [1]}), part=0)
        self.write(self.parent, "q", pa.table({"id": [2]}), part=1)
        self.write(self.change, "q", pa.table({"id": [1, 2]}))
        self.assertEqual(self.problems(), [])

    def test_schema_type_and_name_differ(self):
        self.both("t", pa.table({"id": pa.array([1], pa.int32())}),
                  pa.table({"id": pa.array([1], pa.int64())}))
        self.both("n", pa.table({"a": [1]}), pa.table({"b": [1]}))
        p = self.problems()
        self.assertEqual(len(p), 2)
        self.assertTrue(all("schema differs" in x for x in p))

    def test_one_sided_query_fails(self):
        self.both("q", pa.table({"id": [1]}), pa.table({"id": [1]}))
        self.write(self.change, "only_new", pa.table({"id": [1]}))
        p = self.problems()
        self.assertEqual(len(p), 1)
        self.assertIn("only_new: only in", p[0])
        self.assertEqual(cvo.main(["cvo", self.parent, self.change]), 1)


if __name__ == "__main__":
    unittest.main()
