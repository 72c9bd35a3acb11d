"""Tests of the benchmark's own code.

Usage: python3 perfbench/test_bench.py

The JVM test builds the harness and runs graftbench.SelfTest (digest
order-independence, planted wrong results) on generated sf0.001 tables.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

SCRATCH = build.BUILD / "test"


def tiny_tables():
    data = SCRATCH / "sf0.001"
    if not (data / "GENERATED.json").exists():
        datagen.generate(0.001, 7, data)
    return data


class TailTest(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        self.assertEqual(run.tail(range(1, 101)), (90, 90, 100))
        self.assertEqual(run.tail(range(1, 21)), (50, 10, 20))
        self.assertEqual(run.tail(range(1, 33)), (68, 22, 32))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(run.tail(reversed(range(1, 101))), (90, 90, 100))

    def test_too_few_samples_have_no_percentile(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (None, 3.0, 3))


def fake_result(names, ok=True):
    op = lambda n: {"name": n, "ok": ok, "s": 1.0, "triggers": [],  # noqa: E731
                    **({} if ok else {"error": "Boom: x"})}
    return {"warmup": {"ops": [op(n) for n in names]},
            "passes": [{"ops": [op(n) for n in names]} for _ in range(3)]}


class VerdictTest(unittest.TestCase):
    def test_clean_run_is_correct(self):
        self.assertEqual(run.verdict(fake_result(["a", "b"]), [{"op": "a", "ok": True}]),
                         (True, 6, 0, {}))

    def test_failed_check_marks_its_op_wrong_in_every_pass(self):
        correct, attempted, failed, _ = run.verdict(
            fake_result(["a", "b"]), [{"op": "b", "ok": False}])
        self.assertEqual((correct, attempted, failed), (False, 6, 3))

    def test_raising_op_is_failed_and_reported(self):
        correct, attempted, failed, errors = run.verdict(fake_result(["a"], ok=False), [])
        self.assertEqual((correct, attempted, failed, errors), (False, 3, 3, {"a": "Boom: x"}))


class OracleTest(unittest.TestCase):
    def test_planted_wrong_lane_fails_the_duckdb_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        data = tiny_tables()
        out = SCRATCH / "oracle"
        sql = "SELECT n_nationkey, n_name FROM nation"
        keys = list(range(25))
        names = pq.read_table(data / "nation.parquet")["n_name"].to_pylist()
        for lane, planted in [("good", names), ("bad", names[:-1] + ["ATLANTIS"])]:
            (out / lane).mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table({"n_nationkey": pa.array(keys, pa.int32()),
                                     "n_name": planted}), out / lane / "part-0.parquet")
        (out / "oracle_sql.json").write_text(json.dumps({"good": sql, "bad": sql}))
        bad = run.oracle_failures(data, out, ["good", "bad"])
        self.assertEqual(sorted(bad), ["bad"])
        self.assertIn("ATLANTIS", bad["bad"])

    def test_lane_without_verdict_counts_as_failed(self):
        self.assertEqual(run.parse_check_output("pass a (3 rows)\n", ["a", "b"]),
                         {"b": "no verdict from tools/check.py"})


class HarnessSelfTest(unittest.TestCase):
    def test_digest_and_planted_results(self):
        cp = build.build()
        tmp = SCRATCH / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        r = subprocess.run(build.java(cp, "graftbench.SelfTest", [tiny_tables()], tmp, "1g"),
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           cwd=SCRATCH, timeout=300)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
