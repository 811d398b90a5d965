"""Self-tests of the benchmark's own arithmetic and contracts.

Run from the root of a checkout:  python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import sys
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
RW_ONLY_LAYERS = {"arrow.decode_ms", "ingest.write_ms", "ingest.rows", "dml.delete_ms",
                  "dml.write_amplification"}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(checks.tail_percentile(19), 50.0)
        self.assertEqual(checks.tail_percentile(20), 50.0)
        self.assertEqual(checks.tail_percentile(39), 50.0)
        self.assertEqual(checks.tail_percentile(40), 75.0)
        self.assertEqual(checks.tail_percentile(100), 90.0)
        self.assertEqual(checks.tail_percentile(199), 90.0)
        self.assertEqual(checks.tail_percentile(200), 95.0)
        self.assertEqual(checks.tail_percentile(1000), 99.0)
        self.assertEqual(checks.tail_percentile(10000), 99.9)

    def test_rule_holds_for_every_size(self):
        for n in range(20, 3000):
            p = checks.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9, n)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(checks.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(checks.percentile(xs, 90), 90.1)
        self.assertEqual(checks.median([3, 1, 2]), 2)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": f"s{i}"}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60)]
        self.assertEqual(checks.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 70)]
        self.assertEqual(checks.self_times(spans)[0], 40)

    def test_children_are_clipped_to_the_parent(self):
        # a child that outlives its parent (work handed to another thread)
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 150)]
        self.assertEqual(checks.self_times(spans)[0], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 10, 40)]
        self.assertEqual(checks.self_times(spans), {0: 40, 1: 30, 2: 30})


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_statements(self):
        for seed in (1, 7):
            self.assertEqual(wl.olap_stream(seed, 0, 3), wl.olap_stream(seed, 0, 3))
            self.assertEqual(wl.bulk_stream(seed, 3), wl.bulk_stream(seed, 3))
            self.assertEqual(wl.rw_reader_stream(seed, 1, 50), wl.rw_reader_stream(seed, 1, 50))
            n = len(wl.RW_READ_BLOCK)
            reads = wl.rw_reader_stream(seed, 0, 8 * n)
            for b in range(8):
                self.assertEqual(sorted(reads[b * n:(b + 1) * n]), sorted(wl.RW_READ_BLOCK))
            self.assertTrue(wl.rw_batch(seed, 5).equals(wl.rw_batch(seed, 5)))
        self.assertNotEqual(wl.olap_stream(1, 0, 3), wl.olap_stream(2, 0, 3))
        self.assertNotEqual(wl.olap_stream(1, 0, 3), wl.olap_stream(1, 1, 3))

    def test_blocks_are_the_same_mix_for_every_seed(self):
        n = wl.OLAP_BLOCK
        mixes = []
        for seed in (3, 4):
            prepared = set()
            for c in range(2):
                warm, out = wl.olap_stream(seed, c, 2)
                self.assertEqual(sorted((s["shape"], s["kind"]) for s in warm),
                                 sorted((s, "sql") for s in wl.OLAP_SHAPES))
                for b in range(2):
                    block = out[b * n:(b + 1) * n]
                    self.assertEqual(sorted(s["shape"] for s in block if s["kind"] == "sql"),
                                     sorted(wl.OLAP_SHAPES))
                    prepared |= {s["shape"] for s in block if s["kind"] == "prepared"}
                    mixes.append(sorted((s["shape"], s["kind"]) for s in block))
            self.assertEqual(prepared, set(wl.OLAP_SHAPES))
        # client 0's blocks, seed 3 and seed 4
        self.assertEqual(mixes[0], mixes[4])

    def test_sql_texts_repeat_and_fit_the_plan_cache(self):
        warm, out = wl.olap_stream(5, 0, 20)
        texts = {s["text"] for s in out if s["kind"] == "sql"}
        self.assertEqual(texts, {s["text"] for s in warm})
        self.assertLessEqual(len(texts), 64)

    def test_prepared_text_is_the_template_with_its_parameters(self):
        for s in wl.olap_stream(4, 1, 1)[1]:
            if s["kind"] == "prepared":
                rendered = s["template"]
                for k, v in s["params"].items():
                    rendered = rendered.replace(f":{k}", wl.literal(v))
                self.assertEqual(rendered, s["text"])

    def test_bulk_texts_are_distinct(self):
        texts = [s["text"] for s in wl.bulk_stream(9, 10)]
        self.assertEqual(len(texts), len(set(texts)))

    def test_same_seed_same_expected_answers(self):
        work = os.path.join(HERE, ".work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        try:
            data = datagen.ensure(os.path.join(work, "sf0.001"), 0.001)
            answers = []
            for _ in range(2):
                con = checks.connect(data, datagen.TABLES)
                answers.append([checks.checksum(con, con.sql(s["text"]))
                                for s in wl.olap_stream(11, 0, 1)[1]])
            self.assertEqual(answers[0], answers[1])
            again = datagen.tables(0.001)
            for name, table in again.items():
                self.assertTrue(table.equals(
                    __import__("pyarrow.parquet").parquet.read_table(
                        os.path.join(data, f"{name}.parquet"))), name)
        finally:
            shutil.rmtree(work, ignore_errors=True)


class RwStates(unittest.TestCase):
    """rw_mixed's read verdicts, on real answers of the read shapes."""

    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.work = os.path.join(HERE, ".work", "selftest-rw")
        shutil.rmtree(cls.work, ignore_errors=True)
        data = datagen.ensure(os.path.join(cls.work, "sf0.001"), 0.001)
        cls.state = run.RwState(types.SimpleNamespace(data_dir=data, seed=3, trace=False,
                                                      run_dir=cls.work))
        cls.con = duckdb.connect()
        for t in ("customer", "nation"):
            cls.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def answer(self, shape, ks):
        import pyarrow as pa
        self.con.register(wl.RW_TABLE, pa.concat_tables([wl.rw_batch(3, k) for k in ks]))
        try:
            return self.con.execute(wl.RW_READS[shape]).arrow()
        finally:
            self.con.unregister(wl.RW_TABLE)

    def verdict(self, ks, lo, hi, shape="rw_agg"):
        return self.state.classify(shape, self.answer(shape, ks), lo, hi)

    def test_the_acknowledged_state_is_ok(self):
        for shape in wl.RW_READS:
            self.assertEqual(self.verdict(range(2, 10), 2, 9, shape), "ok")
        # an append acknowledged, its delete not yet
        self.assertEqual(self.verdict(range(2, 11), 2, 10), "ok")

    def test_an_older_state_is_stale(self):
        self.assertEqual(self.verdict(range(1, 9), 2, 9), "stale")
        self.assertEqual(self.verdict(range(1, 10), 2, 10), "stale")

    def test_a_state_the_writer_never_produced_is_wrong(self):
        # a single batch: an overwrite, or a delete that removed too much
        self.assertTrue(self.verdict([9], 2, 9).startswith("wrong"))
        self.assertTrue(self.verdict(range(3, 10), 2, 9).startswith("wrong"))
        self.assertTrue(self.verdict(range(1, 11), 2, 10).startswith("wrong"))
        self.assertTrue(self.verdict([2, 3, 4, 5, 7, 8, 9, 10], 2, 9).startswith("wrong"))

    def test_wrong_rows_are_wrong(self):
        table = self.answer("rw_agg", range(2, 10))
        doubled = table.set_column(1, "n", __import__("pyarrow").compute.multiply(table["n"], 2))
        self.assertTrue(self.state.classify("rw_agg", doubled, 2, 9).startswith("wrong"))


class PipelineSummary(unittest.TestCase):
    def test_per_pass_mean_and_slowest_call(self):
        calls = [{"pass": p, "lat_ms": ms} for p, row in enumerate([[100, 300, 200], [110, 500, 290]])
                 for ms in row]
        s = run.pipeline_summary({"calls": calls, "passes_s": [0.6, 0.9]})
        self.assertAlmostEqual(s["p50_ms"], 250.0)
        self.assertAlmostEqual(s["tail_ms"], 400.0)


class Checksums(unittest.TestCase):
    def test_order_does_not_matter_and_values_do(self):
        import pyarrow as pa
        import duckdb
        con = duckdb.connect()
        a = pa.table({"k": [1, 2, 3], "s": ["x", "y", "z"], "v": [0.1, 0.2, 0.3]})
        b = pa.table({"v": [0.3, 0.1, 0.2], "k": [3, 1, 2], "s": ["z", "x", "y"]})
        c = pa.table({"k": [1, 2, 3], "s": ["x", "y", "q"], "v": [0.1, 0.2, 0.3]})
        self.assertTrue(checks.same(checks.checksum_arrow(con, a), checks.checksum_arrow(con, b)))
        self.assertFalse(checks.same(checks.checksum_arrow(con, a), checks.checksum_arrow(con, c)))
        self.assertFalse(checks.same(checks.checksum_arrow(con, a),
                                     checks.checksum_arrow(con, a.slice(0, 2))))


class OutputRecord(unittest.TestCase):
    """The metrics the workload code produces are exactly the declared ones,
    and the result line has exactly the contract's keys."""

    def fake_run(self, trace):
        r = types.SimpleNamespace(detail={}, seconds=10.0, trace=trace, attempted=4, failed=0,
                                  stale=1, host=types.SimpleNamespace(ready={"default_parallelism": 4}))
        return r

    def test_end_to_end_names(self):
        r = self.fake_run(False)
        values = run.e2e(r, run.latency_summary([10.0, 12.0, 11.0]), 3, 10.0, 20.0, 300.0)
        self.assertEqual(set(values), {m["name"] for m in SPEC["end_to_end"]})
        line = json.loads(run.result_line(SPEC, values, r))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        for m in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])

    def test_per_layer_names(self):
        r = self.fake_run(True)
        root = {"id": 0, "parent": -1, "name": "stmt", "stmt": 1, "start_ns": 0, "end_ns": 9_000_000,
                "attrs": {"cache_hit": 1.0, "job_wall_ms": 5.0, "exec_job_wall_ms": 5.0,
                          "jobs": 1.0, "cpu_ms": 4.0, "rows": 3.0}}
        enc = {"id": 1, "parent": 0, "name": "arrow.encode", "stmt": 1, "start_ns": 1_000_000,
               "end_ns": 8_000_000, "attrs": {}}
        result = {"lat_ms": 9.0, "error": None, "result": "x", "bytes": 100, "rows": 3}
        ph = {"a": [({}, dict(result, lat_ms=8.0))], "b": [({}, result)],
              "c": [({}, dict(result, lat_ms=11.0))], "spans": [root, enc]}
        stats = {"observability_records": 5, "gc_ms": 1, "jit_ms": 2}
        values = run.traced_layers(r, ph, stats, stats, 3.0, [1.0], [2.0])
        # the ingest and row-delete layers are reached only by rw_mixed, which
        # BENCHMARK.json does not list; their values stay in the run record
        self.assertEqual(set(values) - {m["name"] for m in SPEC["per_layer"]}, RW_ONLY_LAYERS)
        line = json.loads(run.result_line(SPEC, values, r))
        self.assertEqual(set(line["metrics"]), {m["name"] for m in SPEC["per_layer"]})

    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in SPEC["workloads"]} - set(run.WORKLOADS), set())
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in SPEC["end_to_end"]), setup[0]["bound"])


if __name__ == "__main__":
    unittest.main()
