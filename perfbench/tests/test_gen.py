"""Generator self-tests.

    python3 -m unittest discover -s perfbench/tests

The fast tests pin determinism and re-derive the expected values from the
generated bytes. PERFBENCH_E2E=1 also runs the benchmark end to end: a
clean run must pass every check (so the expected values agree with what
the program lands), and injected failures must be counted as failures,
never as times.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def digest_dir(d):
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def tables(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(seed, d, sf=0.001)
            return digest_dir(d)

    def raw_day(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_raw_day(seed, d, n_trains=20, cycles=30, files=3)
            return digest_dir(d)

    def test_tables(self):
        self.assertEqual(self.tables(1), self.tables(1))
        self.assertNotEqual(self.tables(1), self.tables(2))

    def test_raw_day(self):
        self.assertEqual(self.raw_day(1), self.raw_day(1))
        self.assertNotEqual(self.raw_day(1), self.raw_day(2))

    def test_api_bodies(self):
        self.assertEqual(gen.cta_feed(1, 5), gen.cta_feed(1, 5))
        self.assertNotEqual(gen.cta_feed(1, 5)[0], gen.cta_feed(2, 5)[0])


class ExpectedValues(unittest.TestCase):
    def test_feed_rows_match_bodies(self):
        """Re-derive the landed rows from the bodies alone, with the
        reference's guards: no route or an empty train array lands nothing."""
        bodies, rows = gen.cta_feed(7, 30)
        derived, empty, noroute = [], 0, 0
        for c in range(30):
            for line, _ in gen.LINES:
                doc = json.loads(bodies[line][c])["ctatt"]
                if "route" not in doc:
                    noroute += 1
                    continue
                trains = doc["route"][0]["train"]
                empty += not trains
                for t in trains:
                    derived.append((f"{gen.POLL_TS[:10]}#{line}#{t['rn']}#{t['trDr']}",
                                    line, t["prdt"], t["isDly"] == "1",
                                    t["nextStaNm"]))
        self.assertEqual(sorted(derived), sorted(rows))
        self.assertGreater(empty + noroute, 0)
        self.assertEqual(gen.trend(derived), gen.trend(rows))

    def test_raw_day_dedup(self):
        with tempfile.TemporaryDirectory() as d:
            rows, n_distinct, n_dups = gen.write_raw_day(
                3, d, n_trains=40, cycles=120, files=4)
            recs = []
            for p in sorted(glob.glob(f"{d}/*.json")):
                with open(p) as f:
                    recs += [json.loads(line) for line in f if line.strip()]
        self.assertEqual(len(recs), n_distinct + n_dups)
        self.assertGreater(n_dups, 0)
        keys = {(r["train_id"], r["current_timestamp"]) for r in recs}
        self.assertEqual(len(keys), n_distinct)
        latest = {}
        for r in recs:
            cur = latest.get(r["train_id"])
            if cur is None or r["prediction_generated_timestamp"] > cur[0]:
                latest[r["train_id"]] = [r["prediction_generated_timestamp"],
                                         r["is_train_delayed"] == "1", r["next_station"]]
        self.assertEqual(gen.trend(rows)[1], latest)

    def test_fleet_split_is_uneven(self):
        lines = [t[0] for t in gen.fleet(5)]
        self.assertEqual(len(lines), 150)
        counts = [lines.count(line) for line, _ in gen.LINES]
        self.assertGreater(max(counts), min(counts))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEnd(unittest.TestCase):
    def run_bench(self, *args):
        p = subprocess.run(["python3", "perfbench/run.py", "--seconds", "1",
                            "--trace", "0", *args], cwd=ROOT,
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        return json.loads(lines[-2]), json.loads(lines[-1])

    def test_pipeline_expected_values_hold(self):
        report, res = self.run_bench("--workload", "cta_pipeline", "--seed", "11")
        self.assertTrue(res["correct"], report["failures"])
        self.assertEqual(res["failed"], 0)

    def test_failing_query_is_a_failure_not_a_time(self):
        report, res = self.run_bench("--workload", "query_mix", "--seed", "12",
                                     "--fail-query", "q_no_such_query")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 2)  # its check and its execution
        self.assertTrue(any("q_no_such_query" in f for f in report["failures"]))
        # the bad query fails in every pass, so no pass is clean: pass_s is
        # missing, and only the real queries' executions are timed
        self.assertEqual(report["samples"]["passes"], 0)
        self.assertNotIn("pass_s", res["metrics"])
        self.assertEqual(report["samples"]["op_latencies"],
                         len(run.WORKLOADS["query_mix"]) * report["samples"]["passes_run"])

    def test_http_500_is_a_failure_not_a_time(self):
        # request 20 falls in the first timed pass (the warm pass sends 14)
        report, res = self.run_bench("--workload", "cta_pipeline", "--seed", "13",
                                     "--fail-request", "20")
        self.assertFalse(res["correct"])
        self.assertTrue(any("drain" in f and "500" in f for f in report["failures"]),
                        report["failures"])
        # the failed pass is left out of pass_s; only the other passes'
        # batches are timed
        passes_run = report["samples"]["passes_run"]
        self.assertEqual(report["samples"]["passes"], passes_run - 1)
        self.assertEqual(report["samples"]["op_latencies"],
                         run.CYCLES * (passes_run - 1))


if __name__ == "__main__":
    unittest.main()
