"""The benchmark's own tests, at tiny input sizes.

    python3 -m unittest perfbench/test_perfbench.py

- every workload runs end to end, traced, with all outputs correct;
- the ledger attributes at least 95% of the jobs inside operations to a
  module and reports the remainder;
- a tampered expected result turns its operation into a failure;
- the Python and Scala canonical digests agree on tricky values.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402

TINY_SF = 0.001
TINY = "ingest_rows=2000,stream_batch=60"


def bench(workload, expected, trace=1, seconds=2, seed=7):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--sf", str(TINY_SF), "--scale", TINY, "--expected", expected],
        capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stdout}\n{p.stderr}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class TinyWorkloads(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()
        cls.tmp = tempfile.mkdtemp(dir=run.bench_dir())
        cls.expected = os.path.join(cls.tmp, "expected")
        os.makedirs(cls.expected)
        data = run.data_dir(TINY_SF)
        sql = oracle.dump_oracle_sql(run)
        oracle.derive(data, sql, oracle.registry_queries(),
                      os.path.join(cls.expected, "registry.tsv"))
        oracle.derive(data, sql, oracle.BATCH, os.path.join(cls.expected, "batch.tsv"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def check_workload(self, name):
        res, out = bench(name, self.expected)
        self.assertTrue(res["correct"], out)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0, out)
        m = res["metrics"]
        self.assertGreaterEqual(m["spark.attributed_frac"]["value"], 0.95, out)
        self.assertIn("spark.unattributed_jobs", m)
        self.assertGreater(m["spark.jobs"]["value"], 0, out)

    def test_registry_light(self):
        self.check_workload("registry_light")

    def test_batch_pipeline(self):
        self.check_workload("batch_pipeline")

    def test_ingest_admit(self):
        self.check_workload("ingest_admit")

    def test_tampered_expected_result_fails(self):
        bad = os.path.join(self.tmp, "tampered")
        shutil.copytree(self.expected, bad)
        path = os.path.join(bad, "registry.tsv")
        with open(path) as f:
            lines = f.read().splitlines()
        name, cols, rows, digest = lines[0].split("\t")
        lines[0] = "\t".join([name, cols, rows, "0" * len(digest)])
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        res, out = bench("registry_light", bad, trace=0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn(f"FAILED {name}#", out)


class CanonicalForm(unittest.TestCase):
    def test_numbers_match_java_bigdecimal(self):
        import decimal
        cases = {0.0: "0", -0.0: "0", 1.0: "1", 100.0: "1E+2", 1234567.0: "1.23457E+6",
                 0.1: "0.1", 12.345675: "12.3457", 0.00012345: "0.00012345",
                 1.5e-8: "1.5E-8", -2.5: "-2.5"}
        for v, want in cases.items():
            self.assertEqual(oracle.value(v), want, v)
        self.assertEqual(oracle.value(decimal.Decimal("12.3400")), "12.34")

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
