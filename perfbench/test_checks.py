#!/usr/bin/env python3
"""Shows that each correctness check of the benchmark fails on a corrupted
output, and passes on the genuine one.

    python3 perfbench/test_checks.py

Run from the repository root; builds like run.py does (about two minutes
with a fresh build, one JVM per workload on a small input).
"""

import json
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dq  # noqa: E402
import run  # noqa: E402

SEED = 5


class Selftest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.broot = run.build_root()
        cls.cp = run.ensure_build(cls.broot)
        cls.work = os.path.join(cls.broot, "work", f"selftest-{os.getpid()}")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def selftest(self, workload, size, extra=()):
        inp = run.ensure_input(self.cp, self.broot, workload, SEED, size, self.work)
        out = os.path.join(self.work, f"{workload}.json")
        run.jvm(self.cp, self.broot, "selftest",
                ["--workload", workload, "--seed", SEED, "--size", size, "--input", inp,
                 "--work", self.work, "--out", out] + list(extra),
                os.path.join(self.work, f"{workload}.log"))
        with open(out) as f:
            return inp, json.load(f)

    def test_quality_filter_checks(self):
        _, cases = self.selftest("dedup", 1500)
        self.assertEqual(cases["genuine"], [])
        self.assertIn("lineage_totals", cases["flipped_keep"])
        self.assertIn("one_row_per_input", cases["dropped_row"])
        self.assertIn("near_dup_clusters_keep_smallest", cases["canonical_marked_near_dup"])

    def test_dq_checks(self):
        rows = 40000
        conf = os.path.join(self.work, "dq_job.conf")
        dq.write_conf(conf, rows)
        inp, cases = self.selftest("dq", rows, ["--dq-conf", conf])
        self.assertEqual(cases["genuine"], [])
        store = os.path.join(self.work, "selftest", "genuine")
        self.assertEqual([n for n, fs in dq.judge(inp, store, rows) if fs], [])

        con = dq.duckdb.connect()
        metrics = os.path.join(store, "results_metrics")
        judged = [(m[0], m[5]) for m in dq.ALL_METRICS] + [(c[0], "composed") for c in dq.COMPOSED]
        for mid, how in judged:
            if how in ("rank", "hll"):
                continue  # judged within an error bound one unit may stay inside
            with self.subTest(metric=mid):
                bad = os.path.join(self.work, "nudged", mid)
                shutil.copytree(store, bad, ignore=shutil.ignore_patterns("results_metrics"))
                os.makedirs(os.path.join(bad, "results_metrics"))
                con.execute(
                    f"COPY (SELECT * REPLACE (CASE WHEN metric_id = '{mid}' THEN result + 1 "
                    f"ELSE result END AS result) FROM read_parquet('{metrics}/*.parquet')) "
                    f"TO '{bad}/results_metrics/part-0.parquet' (FORMAT PARQUET)")
                failed = dict(dq.judge(inp, bad, rows))
                self.assertTrue(any(msg.startswith(mid + ":") for msg in failed["dq_metrics_vs_duckdb"]),
                                failed)
        con.close()


if __name__ == "__main__":
    unittest.main()
