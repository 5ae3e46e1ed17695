"""The benchmark's own tests.  Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They check that every metric is well named and carries a unit, that two
short runs with the same seed count the same work, and that a wrong result
is counted as a failure.  The run-based tests start the JVM (a few minutes
in total on 4 cores).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p, (json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None)


class MetricNames(unittest.TestCase):
    def test_every_metric_is_named_and_has_a_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for kind, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            listed = {m["name"]: m["unit"] for m in spec[kind]}
            self.assertEqual(listed, declared, kind)
            for name, unit in listed.items():
                self.assertRegex(name, NAME)
                self.assertTrue(unit, name)


class SameSeedSameCounts(unittest.TestCase):
    COUNTS = {
        "lake_upsert": ["txtable.write_amp", "txtable.space_amp", "sched.jobs_per_op",
                        "shuffle.write_bytes", "codegen.compiles_per_op", "txtable.live_segments"],
        "corpus_dedup": ["text.verified_pairs", "sched.jobs_per_op", "shuffle.write_bytes"],
    }
    # Byte ratios of the TxTable: segment directories carry random UUID
    # names, and their listing order sets the row order inside the files a
    # merge or compaction rewrites, which moves compressed sizes by a few
    # bytes.  They must agree to 0.1 %; every other count exactly.
    BYTE_RATIOS = {"txtable.write_amp", "txtable.space_amp"}
    # enough commits that the amplification snapshot (24 batches) is taken;
    # one corpus pass
    OPS = {"lake_upsert": "12", "corpus_dedup": "1"}

    def test_counts_repeat(self):
        for workload, names in self.COUNTS.items():
            got = []
            for _ in range(2):
                p, out = bench("--workload", workload, "--seed", "7", "--seconds", "60",
                               "--trace", "1", "--max-ops", self.OPS[workload])
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                self.assertTrue(out["correct"], p.stderr[-2000:])
                got.append({n: out["metrics"][n]["value"] for n in names})
            for n in names:
                if n in self.BYTE_RATIOS:
                    self.assertAlmostEqual(got[0][n], got[1][n], delta=1e-3 * got[0][n], msg=n)
                else:
                    self.assertEqual(got[0][n], got[1][n], f"{workload} {n}")
            for n in names:
                self.assertGreater(got[0][n], 0, f"{workload} {n}")
            if workload == "lake_upsert":
                # compaction does work and the table keeps several segments
                self.assertGreater(out["metrics"]["txtable.compact_bytes"]["value"], 0)
                self.assertGreater(out["metrics"]["txtable.live_segments"]["value"], 1)


class InjectedError(unittest.TestCase):
    def test_wrong_result_is_counted(self):
        p, out = bench("--workload", "query_mix", "--seed", "3", "--seconds", "1",
                       "--max-ops", "3", "--inject-error", "1")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertIn("check:", p.stderr)


class OutsideACheckout(unittest.TestCase):
    def test_fails_without_the_library(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p, out = bench("--workload", "query_mix", "--seed", "1", "--seconds", "1", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
