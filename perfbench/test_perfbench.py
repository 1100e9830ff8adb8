"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The end-to-end cases build the harness and
start a JVM (about a minute each).
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".cache", "test")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def run_bench(workload, seed, env=None, cwd=ROOT, seconds=2):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd, env={**os.environ, **(env or {})}, capture_output=True, text=True,
        timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in sorted(gen.GENERATORS):
            a, b, c = (os.path.join(SCRATCH, f"{w}-{x}") for x in "abc")
            ma, mb = gen.generate(w, 11, a), gen.generate(w, 11, b)
            mc = gen.generate(w, 12, c)
            self.assertEqual(ma, mb, w)
            cmp = filecmp.dircmp(a, b)
            self.assertEqual(cmp.diff_files, [], w)
            for sub in cmp.subdirs.values():
                self.assertEqual(sub.diff_files, [], w)
            self.assertNotEqual(ma["fingerprint"], mc["fingerprint"], w)
            self.assertEqual(ma["bytes"] > 0 and ma["rows"] > 0, True, w)
            self.assertIn("row_groups", ma)

    def test_manifest_states_injected_shares(self):
        m = gen.generate("curate", 3, os.path.join(SCRATCH, "c"))
        self.assertEqual(m["docs"], gen.CURATE_DOCS)
        self.assertAlmostEqual(m["dup_share"], gen.CURATE_DUP_SHARE, places=2)
        m = gen.generate("ingest", 3, os.path.join(SCRATCH, "i"))
        self.assertAlmostEqual(m["malformed_share"], gen.INGEST_MALFORMED_SHARE, places=2)
        self.assertEqual(m["redeliveries"], gen.INGEST_CYCLES)

    def test_every_ingest_cycle_redelivers_one_of_its_batches(self):
        for seed in range(1, 9):
            out = os.path.join(SCRATCH, f"i{seed}")
            gen.generate("ingest", seed, out)
            with open(os.path.join(out, "schedule.json")) as f:
                schedule = json.load(f)
            self.assertEqual(len(schedule), 3 * gen.INGEST_CYCLES)
            for c in range(gen.INGEST_CYCLES):
                first, second, again = schedule[3 * c: 3 * c + 3]
                self.assertEqual((first, second), (2 * c, 2 * c + 1))
                self.assertIn(again, (first, second))


class ResponseFormatTest(unittest.TestCase):
    def test_list_table_and_cube_give_the_same_rows(self):
        lst = {"meta": {"format": "list"}, "data": [{"k": "a", "n": 1}, {"k": "b", "n": 2}]}
        tbl = {"meta": {"format": "table"}, "header": ["n", "k"], "data": [[1, "a"], [2, "b"]]}
        cube = {"meta": {"format": "cube"},
                "edges": [{"name": "k", "domain": {"type": "set", "partitions": [
                    {"value": None}, {"value": "a"}, {"value": "b"}]}}],
                "data": {"n": [0, 1, 2]}}
        want = [["a", 1], ["b", 2]]
        self.assertEqual(checks.response_rows(json.dumps(lst), ["k", "n"]), want)
        self.assertEqual(checks.response_rows(json.dumps(tbl), ["k", "n"]), want)
        self.assertEqual(checks.response_rows(json.dumps(cube), ["k", "n"]),
                         [[None, 0]] + want)

    def test_row_compare_tolerates_float_noise_only(self):
        self.assertIsNone(checks._same_rows([[1, 0.1 + 0.2]], [[1, 0.3]]))
        self.assertIsNotNone(checks._same_rows([[1, 0.31]], [[1, 0.3]]))
        self.assertIsNotNone(checks._same_rows([[1470000002.006]], [[1470000003.006]]))
        self.assertIsNotNone(checks._same_rows([[1, 2]], [[1, 2], [1, 2]]))


class EndToEndTest(unittest.TestCase):
    """A clean run is correct and leaves no scratch area behind; a run
    whose output is corrupted fails; a directory without the library
    exits non-zero without a result."""

    def test_clean_run_is_correct_and_leaves_nothing_behind(self):
        before = set(os.listdir(ROOT))
        code, res, err = run_bench("ingest", 5)
        self.assertEqual(code, 0, err[-2000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]),
                         {"setup_s", "peak_rss_mb", "p50_ms", "tail_ms", "throughput_per_s"})
        self.assertFalse(os.path.exists(os.path.join(HERE, ".cache", "runs")))
        self.assertEqual(set(os.listdir(ROOT)) - before, set())

    def test_corrupted_output_fails_the_run(self):
        code, res, err = run_bench("ingest", 5, env={"PERFBENCH_CORRUPT": "1"})
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertIn("WRONG OUTPUT", err)

    def test_double_counted_redelivery_fails_the_run(self):
        code, res, err = run_bench("ingest", 5, env={"PERFBENCH_CORRUPT": "redeliver"})
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertIn("WRONG OUTPUT: ingest sessions", err)

    def test_benchmark_alone_exits_nonzero_without_result(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache", ".out", "target", "__pycache__"))
        try:
            code, res, _ = run_bench("serve", 1, cwd=bare)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(code, 0)
        self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main()
