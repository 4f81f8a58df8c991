"""The benchmark's own tests.

  python3 -m unittest discover -s fsbench -p 'test_*.py'

Fast tests check the reference's xxhash64 against values Spark printed
and the failure accounting on synthetic results. The end-to-end test
runs the real harness on write_churn (the workload whose reference
covers appends, upserts, deletes, compaction, the change feed and time
travel) with one operation that throws and
one whose result is corrupted, and checks that exactly those two are
failures and neither becomes a latency sample. It needs the engine
sources (run it from the root of a checkout) and takes about a minute.
"""
import datetime as dt
import json
import os
import subprocess
import sys
import unittest

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import reference  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)


class IngestKeyTest(unittest.TestCase):
    def test_matches_spark_xxhash64(self):
        utc = dt.timezone.utc
        rows = [
            (1000, dt.datetime(2025, 1, 1, tzinfo=utc), 7, 0.5, 3),
            (123456789, dt.datetime(2025, 6, 29, 12, 34, 56, tzinfo=utc),
             1048575, 1023.9990234375, 63),
            (0, dt.datetime(2024, 12, 31, 23, 59, 59, tzinfo=utc), 0, 0.0, 0),
        ]
        cols = list(zip(*rows))
        t = pa.table({
            "entity_id": pa.array(cols[0], pa.int64()),
            "timestamp": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "f_cnt": pa.array(cols[2], pa.int64()),
            "f_amt": pa.array(cols[3], pa.float64()),
            "f_cat": pa.array(cols[4], pa.int32()),
        })
        # SELECT xxhash64(entity_id, timestamp, f_cnt, f_amt, f_cat) in
        # Spark 4.1 with spark.sql.session.timeZone=UTC
        self.assertEqual(list(reference.ingest_key(t)),
                         [1173505778907722248, -4443372199736627479,
                          -2968386321238877483])


class FailureAccountingTest(unittest.TestCase):
    """A thrown exception and a wrong result are failures and never
    latency samples, however fast they were."""

    def test_failures_are_not_samples(self):
        plan = {"cycle": True, "setup": [], "warm": [], "timed": [
            {"id": "t0", "kind": "get", "out": "rows"},
            {"id": "t1", "kind": "get", "out": "rows"},
            {"id": "t2", "kind": "get", "out": "rows"},
        ]}

        class Fixed:
            def __init__(self, run_dir, plan):
                pass

            def expected(self, op, version):
                return "R|a|1"

            def plain_bytes(self):
                return 100

        results = [
            # (phase, id, kind, rw, status, latency ns, cpu ns, rows,
            #  version, payload)
            ["timed", "t0", "get", "r", "fail", "1000", "1000", "0", "0", "boom"],
            ["timed", "t1", "get", "r", "ok", "2000", "2000", "1", "0", "R|a|2"],
            ["timed", "t2", "get", "r", "ok", "900000000", "3000000", "1", "0",
             "R|a|1"],
        ]
        saved = reference.Reference
        reference.Reference = Fixed
        try:
            checked, failures, plain = run.verify("", plan, results)
        finally:
            reference.Reference = saved
        self.assertEqual(len(failures), 2)
        self.assertEqual([c[6] for c in checked], [False, False, True])
        summary = {"session_s": 1.0, "setup_rep_s": [1.0], "warm_s": 0.0,
                   "timed_wall_s": 1.0, "timed_cpu_ms": 3.0,
                   "heap_live_mb": 1.0, "store_bytes": 200,
                   "plain_bytes": plain}
        m = run.end_to_end(summary, checked, 0.0, {"get": 3})
        self.assertAlmostEqual(m["read_p50_ms"], 900.0)
        self.assertAlmostEqual(m["ops_per_s"], 1000.0 / 900.0)
        self.assertAlmostEqual(m["cpu_ms_per_op"], 3.0)


@unittest.skipUnless(
    os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/store/FeatureStore.scala")),
    "needs the engine sources of a full checkout")
class InjectedFaultsTest(unittest.TestCase):
    def test_injected_faults_land_in_fail_ratio(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "write_churn", "--seed", "7", "--seconds", "5", "--trace", "0",
             "--inject-faults"], cwd=ROOT, capture_output=True, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 2, p.stdout)
        run_dir = os.path.join(ROOT, ".bench_build", "runs", "write_churn-s7-t0")
        with open(os.path.join(run_dir, "results.tsv")) as f:
            rows = [ln.rstrip("\n").split("\t", 9) for ln in f]
        # the two injected operations head the timed list
        injected = [r for r in rows if r[0] == "timed" and r[1] in ("t0", "t1")]
        self.assertEqual(len(injected), 2)
        self.assertEqual(injected[0][4], "fail")   # threw
        self.assertEqual(injected[1][4], "ok")     # returned, but wrong
        self.assertIn("result differs from the reference", p.stdout)


if __name__ == "__main__":
    unittest.main()
