#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py           # unit tests (seconds)
    python3 perfbench/selftest.py --live    # also one untraced and one traced
                                            # catalog_sweep run (about 2 min)

Run from the root of the checkout. They check that a result that differs
from its oracle is reported as failed, that every metric BENCHMARK.json
names is printed with its unit, and that traced and untraced runs execute
the same queries.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import duckdb  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

with open("BENCHMARK.json") as f:
    BENCH = json.load(f)
WORK = os.path.abspath(os.path.join(".bench_build", "perfbench", "selftest"))

SQL = ("SELECT l_returnflag, sum(l_quantity) AS qty, avg(l_discount) AS disc, "
       "count(*) AS n FROM lineitem GROUP BY l_returnflag")


class OracleCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        cls.corpus = os.path.join(WORK, "corpus")
        cls.fingerprint = corpus.generate(cls.corpus, seed=7, sf=0.001)
        cls.con = duckdb.connect()
        for t in corpus.TABLES:
            cls.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cls.corpus}/{t}.parquet'")

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(WORK, ignore_errors=True)

    def verdict(self, result_sql):
        results = os.path.join(WORK, "results")
        shutil.rmtree(results, ignore_errors=True)
        if result_sql is not None:
            os.makedirs(os.path.join(results, "q"))
            self.con.execute(f"COPY ({result_sql}) TO '{results}/q/part-0.parquet' (FORMAT PARQUET)")
        return oracle.check(self.corpus, self.fingerprint, results, {"q": SQL},
                            os.path.join(WORK, "oracle"))["q"]

    def test_identical_result_passes(self):
        self.assertIsNone(self.verdict(SQL))

    def test_row_and_column_order_do_not_matter(self):
        self.assertIsNone(self.verdict(f"SELECT n, disc, qty, l_returnflag FROM ({SQL}) ORDER BY n"))

    def test_float_noise_below_12_digits_passes(self):
        self.assertIsNone(self.verdict(
            f"SELECT l_returnflag, qty * (1 + 1e-15) AS qty, disc, n FROM ({SQL})"))

    def test_perturbed_value_fails(self):
        self.assertIsNotNone(self.verdict(
            f"SELECT l_returnflag, CASE WHEN l_returnflag = 'A' THEN qty + 1 ELSE qty END AS qty,"
            f" disc, n FROM ({SQL})"))

    def test_perturbed_float_fails(self):
        self.assertIsNotNone(self.verdict(
            f"SELECT l_returnflag, qty, disc * (1 + 1e-9) AS disc, n FROM ({SQL})"))

    def test_missing_row_fails(self):
        self.assertIsNotNone(self.verdict(f"SELECT * FROM ({SQL}) WHERE l_returnflag <> 'R'"))

    def test_duplicated_row_fails(self):
        self.assertIsNotNone(self.verdict(f"SELECT * FROM ({SQL}) UNION ALL "
                                          f"SELECT * FROM ({SQL}) WHERE l_returnflag = 'N'"))

    def test_renamed_column_fails(self):
        self.assertIsNotNone(self.verdict(
            f"SELECT l_returnflag, qty AS quantity, disc, n FROM ({SQL})"))

    def test_missing_result_fails(self):
        self.assertIsNotNone(self.verdict(None))


def metric_specs(kind):
    return {m["name"]: m["unit"] for m in BENCH[kind]}


class MetricNames(unittest.TestCase):
    """The Python side's names and units; the live test covers the names the
    harness JVM produces."""

    def record(self):
        python_side = set(run.FAMILIES) | {"core.session_s", "trace.overhead_frac"}
        layer = {n: 1.0 for n in metric_specs("per_layer")
                 if n not in python_side and not n.startswith("functions.")}
        return {
            "setup_s": 3.0, "session_s": 2.0, "stream_runs": [],
            "retained_heap_mb": 100.0,
            "passes": [{"pass": p, "traced": p in (1, 2), "wall_s": 5.0} for p in range(4)],
            "execs": [{"query": "wordcount", "pass": p, "seconds": 0.5, "error": None}
                      for p in range(4)],
            "layers": [layer, layer],
            "functions": {n: 10.0 for n in metric_specs("per_layer") if n.startswith("functions.")},
        }

    def test_end_to_end_names_and_units(self):
        metrics, _ = run.end_to_end(self.record())
        self.assertEqual({k: u for k, (_, u) in metrics.items()}, metric_specs("end_to_end"))

    def test_per_layer_names_and_units(self):
        for mode in ("loop", "once"):
            metrics = run.per_layer(self.record(), mode)
            self.assertEqual({k: u for k, (_, u) in metrics.items()}, metric_specs("per_layer"))

    def test_workloads_match(self):
        self.assertEqual(sorted(run.WORKLOADS), sorted(w["name"] for w in BENCH["workloads"]))

    def test_families_name_workload_queries(self):
        queries = {q for w in run.WORKLOADS.values() for q in w["queries"]}
        for members in run.FAMILIES.values():
            self.assertTrue(set(members) <= queries)


class Inputs(unittest.TestCase):
    def test_corpus_depends_on_seed_only(self):
        work = os.path.join(WORK, "inputs")
        try:
            a = corpus.generate(os.path.join(work, "a"), seed=3, sf=0.001)
            b = corpus.generate(os.path.join(work, "b"), seed=3, sf=0.001)
            c = corpus.generate(os.path.join(work, "c"), seed=4, sf=0.001)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_stream_inputs_depend_on_seed_only(self):
        work = os.path.join(WORK, "stream")
        try:
            a = corpus.stream_inputs(os.path.join(work, "a"), seed=3, rows=1000)
            b = corpus.stream_inputs(os.path.join(work, "b"), seed=3, rows=1000)
            c = corpus.stream_inputs(os.path.join(work, "c"), seed=4, rows=1000)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_stream_oracles_answer(self):
        work = os.path.join(WORK, "stream")
        try:
            corpus.stream_inputs(work, seed=3, rows=1000)
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            for q in run.STREAM_STATE:
                sql = run.stream_oracle(q, work, "2024-01-01T00:00:04.999Z")
                self.assertGreater(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0], 0)
            con.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)


class Live(unittest.TestCase):
    """One untraced and one traced run of the shortest workload."""

    def bench(self, trace):
        out = subprocess.run(BENCH["command"] + ["--workload", "catalog_sweep", "--seed", "5",
                             "--seconds", "5", "--trace", str(trace)],
                             capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        lines = out.stdout.strip().splitlines()
        return json.loads(lines[-2]), json.loads(lines[-1])

    def test_runs(self):
        detail0, result0 = self.bench(0)
        detail1, result1 = self.bench(1)
        for result, kind in ((result0, "end_to_end"), (result1, "per_layer")):
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                             metric_specs(kind))
        self.assertEqual(detail0["executed"], detail1["executed"])
        self.assertEqual(detail0["queries"], detail1["queries"])


if __name__ == "__main__":
    live = "--live" in sys.argv
    if live:
        sys.argv.remove("--live")
    else:
        del Live
    unittest.main()
