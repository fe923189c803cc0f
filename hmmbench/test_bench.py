"""Self-tests of the benchmark's own logic.

    python3 hmmbench/test_bench.py

They need no JVM. Set HMMBENCH_E2E=1 to also run the query mix end to
end once (builds the program on first use, about two minutes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SF = 0.0005  # tiny inputs: 3 000 lineitem rows


def op(i, wall, phase="timed", ok=True, name="q", family="Physics", traced=False):
    return {"id": i, "pass": 1, "phase": phase, "name": name,
            "family": family, "wall_s": wall, "build_s": wall / 4, "start_ms": 1000 * i,
            "end_ms": 1000 * i + int(wall * 1000), "ok": ok, "error": "", "traced": traced,
            "markers": []}


def result(ops, workload="query_mix"):
    return {"workload": workload, "seed": 1, "cores": 4, "setup_s": 30.5,
            "window_s": sum(o["wall_s"] for o in ops if o["phase"] == "timed"),
            "counters": {"retained_heap_mb": 95.25, "heap_max_mb": 3072.0, "jit_s": 1.5,
                         "gc_s": 0.25, "codegen_compiles": 12.0,
                         "codegen_compile_s": 0.5},
            "ops": ops}


class InputsTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write(a, 7, SF)
            gen.write(b, 7, SF)
            for t in oracle.TABLES:
                with open(f"{a}/{t}.parquet", "rb") as fa, open(f"{b}/{t}.parquet", "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)

    def test_seed_changes_values_not_sizes(self):
        x, y = gen.tables(1, SF), gen.tables(2, SF)
        for t in x:
            self.assertEqual(x[t].num_rows, y[t].num_rows, t)
            self.assertEqual(x[t].schema, y[t].schema, t)
        self.assertNotEqual(x["lineitem"], y["lineitem"])


class CheckTest(unittest.TestCase):
    SQL = ("SELECT l_returnflag, sum(l_quantity) AS qty, avg(l_discount) AS disc "
           "FROM lineitem GROUP BY l_returnflag")

    def saved_result(self, root, data, corrupt):
        """A first-pass result as the JVM saves it, optionally corrupted."""
        d = os.path.join(root, "jvm", "oracle", "q_test")
        os.makedirs(d)
        con = oracle.connect(data)
        bump = "+ 1" if corrupt else ""
        con.execute(f"COPY (SELECT l_returnflag, qty {bump} AS qty, disc FROM ({self.SQL})) "
                    f"TO '{d}/part-0.parquet' (FORMAT parquet)")

    def run_check(self, corrupt):
        with tempfile.TemporaryDirectory() as root:
            data = os.path.join(root, "data")
            gen.write(data, 3, SF)
            self.saved_result(root, data, corrupt)
            res = result([op(0, 1.0, "cold", name="q_test"), op(1, 0.5, name="q_test"),
                          op(2, 0.5, name="other")])
            res.update(out_dir=os.path.join(root, "jvm"), queries=["q_test"],
                       oracle_sql={"q_test": self.SQL})
            return run.check(res, data)

    def test_correct_result_passes(self):
        self.assertEqual(self.run_check(corrupt=False), set())

    def test_corrupted_result_counts_as_failed(self):
        # every op of the query whose saved result is wrong fails
        self.assertEqual(self.run_check(corrupt=True), {0, 1})

    def test_float_rounding_is_not_a_difference(self):
        con = duckdb.connect()
        self.assertIsNone(oracle.compare(
            con, "SELECT 0.1 + 0.2 AS x, 1 AS k", "SELECT CAST(0.3 AS FLOAT) AS x, 1 AS k"))
        self.assertIsNotNone(oracle.compare(con, "SELECT 0.3 AS x", "SELECT 0.31 AS x"))
        self.assertIsNotNone(oracle.compare(con, "SELECT 1 AS x", "SELECT 1 AS y"))

    def test_failed_op_counts_as_failed(self):
        res = result([op(0, 1.0, "cold", name="q_test"), op(1, 0.5, ok=False, name="q_test")])
        with tempfile.TemporaryDirectory() as root:
            res.update(out_dir=root, queries=[], oracle_sql={})
            self.assertEqual(run.check(res, root), {1})


class PipelineCheckTest(unittest.TestCase):
    SQL = CheckTest.SQL

    def run_check(self, wrong_first=False, wrong_later=False, wrong_stage3=False):
        """Three iterations and one saved stage-3 input, as the JVM
        writes them; the named ones hold a corrupted table."""
        with tempfile.TemporaryDirectory() as root:
            data, out = os.path.join(root, "data"), os.path.join(root, "jvm")
            gen.write(data, 3, SF)
            con = oracle.connect(data)

            def save(d, corrupt):
                os.makedirs(d)
                bump = "+ 1" if corrupt else ""
                con.execute(f"COPY (SELECT l_returnflag, qty {bump} AS qty, disc "
                            f"FROM ({self.SQL})) TO '{d}/part-0.parquet' (FORMAT parquet)")

            for i in range(3):
                it = os.path.join(out, f"iter-{i}")
                save(os.path.join(it, "stage1"), (wrong_first and i == 0) or
                     (wrong_later and i == 2))
                os.makedirs(os.path.join(it, "stage3_datacards"))
                with open(os.path.join(it, "stage3_datacards", "ALL.txt"), "w") as f:
                    f.write("card")
            save(os.path.join(out, "stage3-inputs", "s04_x"), wrong_stage3)
            res = result([op(0, 20.0, "cold", name="iter-0", family="pipeline"),
                          op(1, 1.0, "check", name="s04_x", family="pipeline"),
                          op(2, 8.0, name="iter-1", family="pipeline"),
                          op(3, 7.5, name="iter-2", family="pipeline")],
                         workload="hmm_pipeline")
            res.update(out_dir=out, oracle_sql={"stage1": self.SQL},
                       stage3_oracle_sql={"s04_x": self.SQL})
            return run.check(res, data)

    def test_correct_pipeline_passes(self):
        self.assertEqual(self.run_check(), set())

    def test_wrong_first_iteration_fails_every_iteration(self):
        # later iterations are only compared with the first
        self.assertEqual(self.run_check(wrong_first=True), {0, 2, 3})

    def test_wrong_later_iteration_fails_alone(self):
        self.assertEqual(self.run_check(wrong_later=True), {3})

    def test_wrong_stage3_input_fails_every_op(self):
        # every iteration renders its datacards and plots from it
        self.assertEqual(self.run_check(wrong_stage3=True), {0, 1, 2, 3})


class MetricsTest(unittest.TestCase):
    def test_p90_needs_ten_samples_above_it(self):
        self.assertIsNone(metrics.tail_p90([float(i) for i in range(99)]))
        self.assertEqual(metrics.tail_p90([float(i) for i in range(100)]), 89.0)
        self.assertIsNone(metrics.tail_p90([]))

    def test_p90_reported_only_when_supported(self):
        many = result([op(i, 0.1 + i / 1000) for i in range(120)])
        few = result([op(i, 0.1 + i / 1000) for i in range(50)])
        self.assertIn("op_p90_s", metrics.tail(many))
        self.assertEqual(metrics.tail(few), {})

    def test_pipeline_emits_no_percentile(self):
        res = result([op(0, 20.0, "cold", family="pipeline"),
                      op(1, 8.0, family="pipeline"), op(2, 7.5, family="pipeline")],
                     workload="hmm_pipeline")
        names = set(metrics.end_to_end(res)) | set(metrics.tail(res))
        self.assertEqual(names, set(metrics.END_TO_END))
        self.assertNotIn("op_p90_s", names)

    def test_cold_and_check_ops_are_not_latency_samples(self):
        res = result([op(0, 30.0, "cold"), op(1, 9.0, "check"), op(2, 0.5), op(3, 0.7)])
        self.assertEqual(metrics.end_to_end(res)["op_p50_s"], (0.6, "s", 2))

    def test_failures_are_not_latency_samples(self):
        res = result([op(0, 0.5), op(1, 9.0, ok=False), op(2, 0.7)])
        self.assertEqual(metrics.end_to_end(res)["op_p50_s"], (0.6, "s", 2))

    def test_every_metric_carries_unit_and_sample_count(self):
        res = result([op(i, 0.2 + i / 100, traced=i % 2 == 1) for i in range(30)])
        res["trace"] = {"jobs": [], "stages": [], "plans": []}
        for mets, names in ((metrics.end_to_end(res), metrics.END_TO_END),
                            (metrics.per_layer(res, "/nonexistent"), metrics.PER_LAYER)):
            self.assertEqual(set(mets), set(names))
            for name, (value, unit, n) in mets.items():
                self.assertIsInstance(value, (int, float), name)
                self.assertTrue(unit, name)
                self.assertIsInstance(n, int, name)

    def test_end_to_end_metrics_are_never_zero(self):
        res = result([op(i, 0.2 + i / 100) for i in range(30)])
        for name, (value, _, _) in metrics.end_to_end(res).items():
            self.assertGreater(value, 0, name)


class BuildTest(unittest.TestCase):
    def test_class_directories_become_jars_with_the_same_files(self):
        import zipfile
        with tempfile.TemporaryDirectory() as d:
            classes = os.path.join(d, "classes")
            os.makedirs(os.path.join(classes, "a", "b"))
            for rel in ("a/b/C.class", "a/r.txt"):
                with open(os.path.join(classes, rel), "w") as f:
                    f.write(rel)
            lib = os.path.join(d, "lib.jar")
            open(lib, "w").close()
            old_build = run.BUILD
            run.BUILD = os.path.join(d, "build")
            try:
                cp = run.as_jars(os.pathsep.join([classes, lib])).split(os.pathsep)
            finally:
                run.BUILD = old_build
            self.assertEqual(cp[1], lib)
            self.assertTrue(cp[0].endswith(".jar"))
            with zipfile.ZipFile(cp[0]) as z:
                self.assertEqual(sorted(z.namelist()), ["a/b/C.class", "a/r.txt"])
                self.assertEqual(z.read("a/r.txt"), b"a/r.txt")


class MixListTest(unittest.TestCase):
    def test_no_mix_query_needs_reference_data(self):
        with open(os.path.join(HERE, "src/main/scala/hmmbench/Mix.scala")) as f:
            src = f.read()
        listed = src.split('val DefaultList')[1].split('"')[1].split()
        self.assertTrue(listed)
        self.assertFalse(set(listed) & set(run.NEEDS_REFERENCE))

    @unittest.skipUnless(os.environ.get("HMMBENCH_E2E") == "1", "set HMMBENCH_E2E=1")
    def test_mix_runs_without_reference_data(self):
        # run.py points GRAFT_REFERENCE_DATA at a missing directory, so a
        # mix query that needed reference fixtures would fail this run
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "query_mix", "--seed", "5", "--seconds", "1", "--trace", "0"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True,
                           timeout=1000)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual((out["correct"], out["failed"]), (True, 0))


if __name__ == "__main__":
    unittest.main()
