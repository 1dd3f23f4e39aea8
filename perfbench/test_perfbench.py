"""The benchmark's own tests: python3 perfbench/test_perfbench.py (from the
root of a checkout; the failure-injection test builds and runs the client)."""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in ("batch", "ingest"):
            self.assertEqual(inputs.inputs_bytes(w, 7), inputs.inputs_bytes(w, 7))
            self.assertNotEqual(inputs.inputs_bytes(w, 7), inputs.inputs_bytes(w, 8))

    def test_ingest_plan_has_rescrapes_duplicates_and_replays(self):
        plan, offered = inputs.ingest_plan(3)
        rows = [r for b in plan["batches"] for r in b["rows"]]
        self.assertTrue(any(r[1] > 1 for r in rows), "no re-scraped listing")
        self.assertTrue(any(b["replay"] >= 0 for b in plan["batches"]), "no replay")
        self.assertTrue(any(len({r[0] for r in b["rows"]}) < len(b["rows"])
                            for b in plan["batches"]), "no row offered twice in a batch")
        final, counts = inputs.expected_states(offered)[-1]
        self.assertEqual(len(final), len({r[0] for r in final}))
        latest = {}
        for r in (r for batch in offered for r in batch):
            latest[r[0]] = max(latest.get(r[0], 0), r[1])
        self.assertEqual({r[0]: r[1] for r in final}, latest)


class FailedOps(unittest.TestCase):
    def test_failed_op_is_counted_and_left_out_of_latency(self):
        ok = [{"op": i, "pass": 0, "name": "q", "latency_s": 1.0 + i / 10,
               "error": None, "traced": False} for i in range(9)]
        fast_failure = {"op": 9, "pass": 1, "name": "q", "latency_s": 0.001,
                        "error": "boom", "traced": False}
        summary = {"setups_s": [1.0, 1.0, 1.0], "retained_heap_mb": 100.0,
                   "passes": [{"pass": 0, "wall_s": 9.0}, {"pass": 1, "wall_s": 0.001}]}
        with_failure = run.end_to_end(ok + [fast_failure], summary)
        without = run.end_to_end(ok, dict(summary, passes=summary["passes"][:1]))
        self.assertEqual(with_failure["op_p50_s"], without["op_p50_s"])
        self.assertEqual(with_failure["pass_s"], without["pass_s"])

    def test_injected_failures_fail_the_run(self):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch",
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject-throw", "bpe_encode", "--inject-wrong", "ts_hampel_filter"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertNotEqual(r.returncode, 0)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 2)
        self.assertGreater(result["attempted"], result["failed"])
        self.assertIn("injected failure in bpe_encode", r.stderr)
        self.assertIn("(ts_hampel_filter): wrong output", r.stderr)


class ReappliedReplay(unittest.TestCase):
    def test_reapplied_replay_fails_its_op(self):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-reapply"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertNotEqual(r.returncode, 0)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("was applied again", r.stderr)


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"))
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "batch",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
