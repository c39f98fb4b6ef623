"""The benchmark's own tests: every workload once in smoke mode (tiny seeded
inputs, every output check on), untraced and traced.

    python3 -m unittest perfbench/test_smoke.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, trace, seed=3):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"run.py exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        out = run(workload, trace)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(list(out["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for name, m in out["metrics"].items():
                self.assertGreater(m["value"], 0, name)
        return out["metrics"]

    def test_etl_jdbc(self):
        self.check("etl_jdbc", 0)

    def test_etl_jdbc_traced(self):
        m = self.check("etl_jdbc", 1)
        self.assertGreater(m["etl.jobs_per_table"]["value"], 0)
        self.assertEqual(m["dedup.jobs"]["value"], 0)

    def test_etl_parquet(self):
        self.check("etl_parquet", 0)

    def test_curate(self):
        self.check("curate", 0)

    def test_curate_traced(self):
        m = self.check("curate", 1)
        self.assertGreater(m["dedup.jobs"]["value"], 0)
        self.assertGreater(m["queries.emit_jobs"]["value"], 0)
        self.assertEqual(m["etl.jobs_per_table"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
