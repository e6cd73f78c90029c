#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

``test_membership`` builds the library and fails, naming the rows, when a
``SparkEntry.queries`` name is in neither row workload or in both, or
when a listed name is no longer in the registry. The other tests need no
build.
"""
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import pin  # noqa: E402
import run  # noqa: E402


class MembershipTest(unittest.TestCase):
    def test_membership(self):
        bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        classes = build.build(os.getcwd(), bdir)
        work = tempfile.mkdtemp(dir=bdir)
        try:
            run.write_listing(work, run.load_expected())
            try:
                run.run_harness(classes, "membership", work, work, 0, 0, 0,
                                time.monotonic() + 120)
            except SystemExit:
                with open(os.path.join(work, "harness.log")) as f:
                    problems = [line for line in f if "membership:" in line]
                self.fail("workload membership is stale:\n" + "".join(problems))
        finally:
            shutil.rmtree(work, ignore_errors=True)


class ShardTest(unittest.TestCase):
    def test_every_row_in_one_shard_of_equal_size(self):
        for workload, rows in run.load_expected().items():
            sizes = {}
            for r in rows.values():
                sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
            self.assertEqual(sorted(sizes), list(range(run.SHARDS[workload])), workload)
            self.assertLessEqual(max(sizes.values()) - min(sizes.values()), 1, workload)

    def test_shard_spans_every_stratum(self):
        rows = {f"r{i}": {"warm_s": (i * 37 % 70) / 10} for i in range(70)}
        pin.assign_shards(rows, 7)
        for s in range(7):
            times = sorted(r["warm_s"] for r in rows.values() if r["shard"] == s)
            self.assertEqual(times, [(s + 7 * j) / 10 for j in range(10)])


class InputTest(unittest.TestCase):
    def test_same_seed_same_replica(self):
        tmp = tempfile.mkdtemp()
        try:
            digests = []
            for name in ("a", "b"):
                gen.write_replica(gen.BASE, os.path.join(tmp, name), 3, 5)
                con = check.connect(os.path.join(tmp, name))
                digests.append(check.digest(con, "SELECT * FROM events"))
            gen.write_replica(gen.BASE, os.path.join(tmp, "c"), 3, 6)
            other = check.digest(check.connect(os.path.join(tmp, "c")), "SELECT * FROM events")
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], other)
            self.assertEqual(gen.row_counts(os.path.join(tmp, "a")),
                             {"customer": 3 * 1500, "events": 3 * 10000})
        finally:
            shutil.rmtree(tmp)


class QuantileTest(unittest.TestCase):
    @staticmethod
    def quantiles(*runs):
        res = {"runs": [{"traced": False, "run_s": sum(walls),
                         "ops": [{"wall_s": w} for w in walls]} for walls in runs],
               "setup_s": 1.0, "peak_rss_mb": 1.0}
        m = run.end_to_end(res)[0]
        return m["query_p50_s"][0], m["query_p90_s"][0]

    def test_p90_stays_within_the_sample(self):
        walls = [0.3, 0.4, 1.0, 1.2, 2.0, 3.0]
        self.assertLessEqual(self.quantiles(walls)[1], max(walls))
        # a faster second-slowest operation never raises the p90
        self.assertLess(self.quantiles([0.3, 0.4, 1.0, 1.2, 1.5, 3.0])[1],
                        self.quantiles(walls)[1])

    def test_independent_of_the_number_of_runs(self):
        walls = [0.3, 0.4, 1.0, 1.2, 2.0, 3.0]
        self.assertEqual(self.quantiles(walls), self.quantiles(walls, walls))


class DigestTest(unittest.TestCase):
    def test_order_independent_and_rounded(self):
        con = check.connect()
        a = check.digest(con, "SELECT * FROM (VALUES (1, 0.1 + 0.2, 'x'), (2, NULL, 'y')) t(k, v, s)")
        b = check.digest(con, "SELECT s, v, k FROM (VALUES (2, NULL, 'y'), (1, 0.3, 'x')) t(k, v, s)")
        c = check.digest(con, "SELECT * FROM (VALUES (1, 0.3, 'x'), (1, 0.3, 'x')) t(k, v, s)")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(a[0], 2)


if __name__ == "__main__":
    unittest.main()
