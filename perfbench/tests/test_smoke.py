"""Smoke run of every workload at sf0.001, traced, through the benchmark's
command. Slow (several minutes): it builds and runs each workload once."""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import benchlib  # noqa: E402
import build  # noqa: E402


class SmokeTest(unittest.TestCase):
    def test_every_workload_runs_checks_and_traces(self):
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        layers = [m["name"] for m in spec["per_layer"]]
        for name in benchlib.WORKLOADS:
            with self.subTest(workload=name):
                out = subprocess.run(
                    [sys.executable, str(build.ROOT / "perfbench" / "run.py"), "--workload", name,
                     "--seed", "7", "--seconds", "0", "--trace", "1", "--scale", "sf0.001"],
                    capture_output=True, text=True, timeout=600, check=True).stdout.splitlines()
                result = json.loads(out[-1])
                record_path = Path(out[-2].split("record: ", 1)[1])
                record = json.loads(record_path.read_text())
                record_path.unlink()
                self.assertTrue(result["correct"], record["failures"])
                self.assertEqual(result["attempted"], len(record["queries"]))
                self.assertEqual(list(result["metrics"]), layers)
                self.assertGreater(result["metrics"]["exec.jobs"]["value"], 0)
                self.assertEqual({s["kind"] for s in record["spans"]} >= {
                    "run", "pass", "query", "build", "execute", "job"}, True)
                self.assertTrue(record["plan_digests"])
                self.assertGreater(record["end_to_end"]["setup_s"], 0)


if __name__ == "__main__":
    unittest.main()
