"""Tests of the benchmark itself.

    python3 -m unittest discover -s bench/tests -v

They need `java` on the PATH and SPARK_HOME set, like the benchmark. The
end-to-end cases run whole workloads, so the suite takes about six
minutes.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = pathlib.Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402

# A seed not used while the benchmark was developed and tuned.
UNSEEN_SEED = 90210


def bench(workload, seed, seconds=2, trace="0", cwd=ROOT):
    out = subprocess.run(
        [sys.executable, f"{BENCH.name}/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", trace],
        capture_output=True, text=True, cwd=cwd, timeout=600)
    return out


def result(out):
    return json.loads(out.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def test_tail_rule_failure_counting_and_job_groups(self):
        """Runs graftbench.SelfTest: the tail-percentile rule, ok_frac
        counting, and job-group attribution of listener counts."""
        work = run.fresh_work_dir("selftest")
        cmd = run.jvm_command("graftbench.SelfTest", work, [])
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=work, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-3000:])
        self.assertIn("selftest passed", out.stdout)


class UnseenSeed(unittest.TestCase):
    def check_workload(self, workload, seconds=run.spec()["run_seconds"]):
        """Runs at the benchmark's own length, so that every check fires
        (`ingest` compacts once, after its 8th batch)."""
        out = bench(workload, UNSEEN_SEED, seconds)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        r = result(out)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], out.stdout)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        names = {m["name"] for m in run.spec()["end_to_end"]}
        self.assertEqual(set(r["metrics"]), names)
        for name, m in r["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        self.assertEqual(r["metrics"]["ok_frac"]["value"], 1.0)
        return out

    def test_search(self):
        self.check_workload("search", seconds=2)

    def test_ingest(self):
        self.check_workload("ingest")

    def test_curate_digest_repeats_across_runs(self):
        def digest(out):
            lines = [l for l in out.stdout.splitlines() if l.startswith("curate digest ")]
            self.assertEqual(len(lines), 1, out.stdout)
            return lines[0]
        first = digest(self.check_workload("curate"))
        second = digest(self.check_workload("curate"))
        self.assertEqual(first, second)


class TracedRun(unittest.TestCase):
    def test_every_per_layer_metric_is_reported(self):
        out = bench("search", UNSEEN_SEED, trace="1")
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        r = result(out)
        self.assertTrue(r["correct"])
        names = {m["name"] for m in run.spec()["per_layer"]}
        self.assertEqual(set(r["metrics"]), names)
        for name in ("Knn.s", "Knn.jobs", "GraphExpand.s", "chain.jobs_per_op"):
            self.assertGreater(r["metrics"][name]["value"], 0, name)


class WithoutTheProgram(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        """Holding only BENCHMARK.json and the benchmark's own files, the
        run must fail without printing a result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, pathlib.Path(d) / BENCH.name,
                            ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
            out = bench("search", 1, cwd=d)
            self.assertNotEqual(out.returncode, 0)
            self.assertFalse(any(l.startswith("{") for l in out.stdout.splitlines()), out.stdout)


if __name__ == "__main__":
    unittest.main()
