#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py          # from the repository root

- the interval arithmetic behind self times and the accounting check;
- the counters: a traced run of two tiny queries whose job, stage and task
  counts are known must report exactly those counts, read after the
  listener bus is drained;
- the oracle check: a run whose outputs match gives error_rate 0, and
  changing one row of one output makes error_rate > 0.
"""
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(layers.union_ms([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(layers.union_ms([(5, 5), (9, 3)]), 0)

    def test_escaped_counts_time_outside_parent(self):
        self.assertEqual(layers.escaped_ms([(0, 10), (2, 14)], 1, 12), 3)


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.sql = run.prepare()
        cls.dir = os.path.join(build.BUILD, "runs", "test")
        shutil.rmtree(cls.dir, ignore_errors=True)
        os.makedirs(cls.dir)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_counters_on_known_queries(self):
        raw, _ = run.run_jvm(["selftest_scan", "selftest_shuffle"],
                             run.data_dir(0.01), 1, 0, 1, self.dir)
        _, diag = layers.per_layer(raw)
        rows = diag["queries"]
        self.assertEqual(len(rows), 4)  # two timed passes of two keys
        counts = lambda key: {(r["build_jobs"], r["exec_jobs"],
                               r["exec_stages"], r["exec_tasks"])
                              for r in rows if r["key"] == key}
        # parquet schema inference launches one job; the scan of one file
        # with one row group is one job, one stage, one task
        self.assertEqual(counts("selftest_scan"), {(1, 1, 1, 1)})
        # no job to build; under AQE the shuffle map stage (3 range
        # splits) is its own job, then the result stage reads 2 partitions
        self.assertEqual(counts("selftest_shuffle"), {(0, 2, 2, 5)})
        self.assertEqual(diag["accounting_violations"], 0)
        for r in rows:
            self.assertGreaterEqual(r["unattributed_ms"], 0)

    def test_changed_output_row_raises_error_rate(self):
        key = "agg_tpch_q1"
        data = run.data_dir(0.01)
        raw, out = run.run_jvm([key], data, 1, 0, 0, self.dir)
        attempted, failed = run.score(raw, oracle.failures(out, data, self.sql, [key]))
        self.assertEqual(failed, 0)
        part = next(f for f in os.listdir(os.path.join(out, key))
                    if f.endswith(".parquet"))
        path = os.path.join(out, key, part)
        tbl = pq.read_table(path)
        name = next(f.name for f in tbl.schema if pa.types.is_floating(f.type))
        vals = tbl.column(name).to_pylist()
        vals[0] = vals[0] + 1.0
        tbl = tbl.set_column(tbl.schema.get_field_index(name), name,
                             pa.array(vals, tbl.schema.field(name).type))
        pq.write_table(tbl, path)
        bad = oracle.failures(out, data, self.sql, [key])
        self.assertIn(key, bad)
        attempted, failed = run.score(raw, bad)
        self.assertGreater(failed / attempted, 0)


if __name__ == "__main__":
    unittest.main()
