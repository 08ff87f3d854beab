#!/usr/bin/env python3
"""Planted faults: every output check must reject a dropped record, a
duplicated record and a sign-flipped float, and accept the clean output.
The ETL check must also reject a DLQ record without its error message.

    python3 perfbench/test_checks.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import cdcgen  # noqa: E402
import checks  # noqa: E402


def engine_view(r):
    """A record as the pipeline writes it: op mapped, tag set, `cust`
    renamed in the after image."""
    op = cdcgen.OP_NAMES[r.op]
    before = after = None
    if r.op == "d":
        before = dict(r.row)
    else:
        after = {("customer_id" if k == "cust" else k): v for k, v in r.row.items()}
        if r.op == "u":
            before = dict(r.row, status="open")
    return {"operation": op, "metadata": {"bench.tag": cdcgen.TAG_PREFIX + op},
            "before": before, "after": after}


def write_parquet(path, views):
    os.makedirs(path)
    t = pa.table({
        "operation": [v["operation"] for v in views],
        "metadata": pa.array([list(v["metadata"].items()) for v in views],
                             pa.map_(pa.string(), pa.string())),
        "payload_before": [None if v["before"] is None else json.dumps(v["before"])
                           for v in views],
        "payload_after": [None if v["after"] is None else json.dumps(v["after"])
                          for v in views],
    })
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))


def write_json(path, views, message=None):
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.txt"), "w") as fh:
        for v in views:
            body = v["after"] or v["before"]
            fh.write(json.dumps({"position": None, "operation": v["operation"],
                                 "metadata": v["metadata"], "key": None,
                                 "payload": {"before": v["before"], "after": v["after"]},
                                 "error": message and message(body["id"])}) + "\n")


def flip_sign(view):
    out = json.loads(json.dumps(view))
    out["after"]["amount"] = -out["after"]["amount"]
    return out


def rec_id(view):
    return (view["after"] or view["before"])["id"]


class EtlChecks(unittest.TestCase):
    def setUp(self):
        self.records = cdcgen.generate(7, 400)
        self.exp = cdcgen.expectations(self.records)
        self.dest = [engine_view(r) for r in self.records if r.fate == "dest"]
        self.dlq = [engine_view(r) for r in self.records if r.fate == "dlq"]
        self.dropped = [engine_view(r) for r in self.records if r.fate == "drop"]
        os.makedirs(checks.BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=checks.BUILD)

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, parquet=None, js=None, dlq=None, message=checks.dlq_message):
        out = tempfile.mkdtemp(dir=self.tmp.name)
        write_parquet(os.path.join(out, "parquet"), self.dest if parquet is None else parquet)
        write_json(os.path.join(out, "json"), self.dest if js is None else js)
        write_json(os.path.join(out, "dlq"), self.dlq if dlq is None else dlq, message)
        return checks.check_etl(self.exp, out)

    def failed(self, **outputs):
        failed, problems = self.check(**outputs)
        self.assertEqual(problems, [])
        return failed

    def live(self, views):
        return next(i for i, v in enumerate(views) if v["after"] is not None)

    def test_clean_output_passes(self):
        self.assertEqual(self.check(), (set(), []))

    def test_dropped_record(self):
        self.assertEqual(self.failed(parquet=self.dest[1:]), {rec_id(self.dest[0])})
        self.assertEqual(self.failed(js=self.dest[:-1]), {rec_id(self.dest[-1])})
        self.assertEqual(self.failed(dlq=self.dlq[1:]), {rec_id(self.dlq[0])})

    def test_duplicated_record(self):
        self.assertEqual(self.failed(parquet=self.dest + self.dest[:1]), {rec_id(self.dest[0])})
        self.assertEqual(self.failed(js=self.dest + self.dest[-1:]), {rec_id(self.dest[-1])})
        self.assertEqual(self.failed(dlq=self.dlq + self.dlq[:1]), {rec_id(self.dlq[0])})

    def test_sign_flipped_float(self):
        for name in ("parquet", "js", "dlq"):
            views = list(self.dlq if name == "dlq" else self.dest)
            i = self.live(views)
            views[i] = flip_sign(views[i])
            self.assertEqual(self.failed(**{name: views}), {rec_id(views[i])}, name)

    def test_filtered_record_leaks(self):
        self.assertEqual(self.failed(dlq=self.dlq + self.dropped[:1]), {rec_id(self.dropped[0])})

    def test_record_in_the_wrong_output(self):
        self.assertEqual(self.failed(js=self.dest + self.dlq[:1]), {rec_id(self.dlq[0])})

    def test_unrenamed_record(self):
        views = list(self.dest)
        i = self.live(views)
        after = dict(views[i]["after"])
        after["cust"] = after.pop("customer_id")
        views[i] = dict(views[i], after=after)
        self.assertEqual(self.failed(js=views), {rec_id(views[i])})

    def test_dlq_record_without_its_message(self):
        self.assertEqual(self.failed(message=None), {rec_id(v) for v in self.dlq})
        self.assertEqual(self.failed(message=lambda i: f"rejected {i}0"),
                         {rec_id(v) for v in self.dlq})

    def test_record_without_an_id(self):
        views = list(self.dest)
        i = self.live(views)
        after = dict(views[i]["after"])
        del after["id"]
        views[i] = dict(views[i], after=after)
        failed, problems = self.check(parquet=views)
        self.assertEqual(failed, {rec_id(self.dest[i])})
        self.assertEqual(len(problems), 1)


class OracleChecks(unittest.TestCase):
    want = pa.table({"k": [1, 2, 3], "beta": [-0.0, 1.5, float("nan")],
                     "s": ["a", "b", None]})

    def compare(self, **cols):
        got = self.want.to_pydict()
        got.update(cols)
        return checks.compare_tables(pa.table(got), self.want)

    def test_equal_tables_pass_in_any_row_and_column_order(self):
        shuffled = pa.table({"s": ["b", None, "a"], "beta": [1.5, float("nan"), -0.0],
                             "k": [2, 3, 1]})
        self.assertIsNone(checks.compare_tables(shuffled, self.want))

    def test_nan_equals_nan(self):
        self.assertIsNone(self.compare(beta=[-0.0, 1.5, -float("nan")]))

    def test_dropped_row(self):
        self.assertIsNotNone(checks.compare_tables(self.want.slice(0, 2), self.want))

    def test_duplicated_row(self):
        dup = pa.concat_tables([self.want, self.want.slice(0, 1)])
        self.assertIsNotNone(checks.compare_tables(dup, self.want))

    def test_sign_flipped_float(self):
        self.assertIsNotNone(self.compare(beta=[0.0, 1.5, float("nan")]))
        self.assertIsNotNone(self.compare(beta=[-0.0, -1.5, float("nan")]))

    def test_int_is_not_float(self):
        self.assertIsNotNone(checks.compare_tables(
            pa.table({"x": [1]}), pa.table({"x": [1.0]})))


if __name__ == "__main__":
    unittest.main()
