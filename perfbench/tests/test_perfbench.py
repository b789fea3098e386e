"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The smoke tests run each workload at `--scale tiny` through the same
command the benchmark uses (they build the engine on first use, so the
first one can take a few minutes). The other tests check the input
generators and the metric contract without a JVM.
"""

import datetime as dt
import json
import os
import subprocess
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import candy_data  # noqa: E402
import run  # noqa: E402
import stream_data  # noqa: E402
import tables_data  # noqa: E402

# Every metric the benchmark is asked to report, by name and unit.
END_TO_END = {"setup_s": "s", "wall_s": "s", "warm_wall_s": "s",
              "batch_p50_s": "s", "heap_peak_mb": "MB", "ops_ok_ratio": "ratio"}
PER_LAYER = [
    "session.create_s",
    "io.read_s", "io.read_files", "io.read_rows", "io.sink_s", "io.sink_rows",
    "io.sink_bytes",
    "pipeline.normalize_enrich_s", "pipeline.enriched_rows", "pipeline.allocate_s",
    "pipeline.allocate_lines", "pipeline.allocate_cancelled",
    "pipeline.allocate_shuffle_bytes", "pipeline.allocate_spill_bytes",
    "pipeline.reports_s", "pipeline.reports_build_s", "pipeline.reports_build_jobs",
    "forecast.fit_s", "forecast.points",
    "stream.index_build_s", "stream.batch_pre_settle_s", "stream.batch_post_settle_s",
    "stream.settle_batch_s", "stream.add_batch_ms", "stream.planning_ms",
    "stream.jobs_per_batch", "stream.settles", "stream.survivors",
    "stream.bytes_written",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.executor_cpu_s", "spark.gc_s", "spark.busy_ratio",
    "candy.uncovered_s", "trace.overhead_s",
] + [f"registry.{f}.{m}" for f in ("q", "ev", "p", "dd", "sim", "tx", "ds", "mm", "fc", "dq")
     for m in ("build_s", "plan_s", "exec_s", "build_jobs", "shuffle_bytes")] + [
    "registry.build_s", "registry.plan_s", "registry.exec_s", "registry.build_jobs",
    "registry.exec_jobs", "registry.queries",
]


def bench(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricContract(unittest.TestCase):

    def test_benchmark_json_names_every_metric_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"]), sorted(PER_LAYER))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.SIZES))
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


class Generators(unittest.TestCase):

    def test_candy_year_keeps_the_reference_edge_cases(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = candy_data.generate(d, seed=3, transactions=4000, days=60)
            self.assertGreater(sizes["null_qty_items"] / sizes["items"], 0.05)
            per_day, all_null = [], 0
            for name in sorted(os.listdir(d)):
                if name.startswith("transactions_"):
                    with open(os.path.join(d, name)) as f:
                        docs = json.load(f)
                    per_day.append(len(docs))
                    all_null += sum(all(i["qty"] is None for i in t["items"])
                                    for t in docs)
                    days = {t["timestamp"][:10] for t in docs}
                    self.assertEqual(days, {str(dt.datetime.strptime(
                        name[13:21], "%Y%m%d").date())})
            self.assertEqual(len(per_day), 60)
            self.assertGreater(max(per_day) / min(per_day), 8)
            self.assertGreater(all_null, 0)
            want = candy_data.replay(d)
            lines = want["order_line_items"]
            cancelled = sum(1 for line in lines if line[2] == 0)
            self.assertTrue(0.05 < cancelled / len(lines) < 0.3, cancelled / len(lines))
            self.assertEqual(len(want["orders"]), sizes["transactions"] - all_null)

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            candy_data.generate(a, 5, 300, 5)
            candy_data.generate(b, 5, 300, 5)
            stream_data.generate(a, 5, 20, 2, 10)
            stream_data.generate(b, 5, 20, 2, 10)
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name)) as fa, open(os.path.join(b, name)) as fb:
                    self.assertEqual(fa.read(), fb.read(), name)

    def test_stream_plants_every_duplicate_class(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = stream_data.generate(d, seed=1, corpus_docs=200, batches=4,
                                         batch_docs=60)
            for kind in ("corpus_exact", "corpus_near", "batch_exact", "batch_near",
                         "earlier_exact", "earlier_near"):
                self.assertGreater(sizes[kind], 0, kind)
            with open(os.path.join(d, "batches.jsonl")) as f:
                rows = [json.loads(line) for line in f]
            self.assertEqual(Counter(r["batch"] for r in rows), {b: 60 for b in range(4)})
            want = stream_data.expected(d)
            self.assertEqual(len(want), sizes["expected_survivors"])
            self.assertEqual(len(set(r["text"] for r in rows if r["doc_id"] in set(want))),
                             len(want))

    def test_stream_replay_keeps_a_near_copy_the_lsh_misses(self):
        # on this seed, doc 1000003 is a near copy of doc 1000000 in the
        # same batch whose extra shingle wins every MinHash band
        with tempfile.TemporaryDirectory() as d:
            sizes = stream_data.generate(d, seed=2046294146, corpus_docs=500,
                                         batches=3, batch_docs=50)
            self.assertEqual(sizes["lsh_missed"], 1)
            want = stream_data.expected(d)
            self.assertIn(1000000, want)
            self.assertIn(1000003, want)
            self.assertEqual(len(want), sizes["novel"] + 1)

    def test_query_sample_is_seeded_and_covers_every_family(self):
        a, b = run.query_sample(11), run.query_sample(11)
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.query_sample(12))
        fams = Counter(n.split("_")[0].rstrip("0123456789") for n in a)
        self.assertEqual(set(fams), set(run.FAMILIES))
        self.assertTrue(all(v <= run.SAMPLE_PER_FAMILY for v in fams.values()), fams)

    def test_query_check_flags_a_result_that_differs_from_duckdb(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            tables_data.generate(os.path.join(d, "t"), 4)
            for name, n in (("right", 1500), ("wrong", 1499)):
                os.makedirs(os.path.join(d, "r", name))
                pq.write_table(pa.table({"n": pa.array([n], pa.int64())}),
                               os.path.join(d, "r", name, "part-0.parquet"))
            sql = "SELECT count(*) AS n FROM orders"
            bad = tables_data.check(os.path.join(d, "t"), os.path.join(d, "r"),
                                    ["right", "wrong"], {"right": sql, "wrong": sql})
            self.assertEqual(list(bad), ["wrong"])

    def test_replay_check_flags_a_wrong_stock(self):
        with tempfile.TemporaryDirectory() as d:
            candy_data.generate(os.path.join(d, "in"), 2, 300, 5)
            want = candy_data.replay(os.path.join(d, "in"))
            out = os.path.join(d, "out")
            os.makedirs(out)
            bad = [(p, n, s + 1) for p, n, s in want["products_updated"]]
            with open(os.path.join(out, "products_updated.csv"), "w") as f:
                f.write("product_id,product_name,current_stock\n")
                f.writelines(f"{p},{n},{s}\n" for p, n, s in bad)
            errs = candy_data.check(out, want)
            self.assertTrue(any(e.startswith("products_updated.csv: 36 rows differ")
                                for e in errs), errs)
            self.assertTrue(any(e == "orders.csv: missing" for e in errs), errs)


class Smoke(unittest.TestCase):

    def check(self, workload, trace, names):
        r = bench(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, names)
        for v in r["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))
        return r["metrics"]

    def test_candy_year_end_to_end(self):
        m = self.check("candy_year", 0, END_TO_END)
        for k, v in m.items():
            self.assertGreater(v["value"], 0, k)

    def test_candy_year_layers(self):
        m = self.check("candy_year", 1, run.PER_LAYER)
        self.assertEqual(m["pipeline.reports_build_jobs"]["value"], 0)
        self.assertEqual(m["registry.queries"]["value"],
                         len(run.query_sample(7)))
        self.assertGreater(m["registry.exec_s"]["value"], 0)
        self.assertGreater(m["io.read_s"]["value"], 0)
        self.assertGreater(m["pipeline.allocate_lines"]["value"], 0)

    def test_ingest_stream_end_to_end(self):
        m = self.check("ingest_stream", 0, END_TO_END)
        for k, v in m.items():
            self.assertGreater(v["value"], 0, k)

    def test_ingest_stream_layers(self):
        m = self.check("ingest_stream", 1, run.PER_LAYER)
        self.assertGreater(m["stream.settles"]["value"], 1)
        self.assertGreater(m["stream.batch_post_settle_s"]["value"], 0)
        self.assertGreater(m["stream.batch_pre_settle_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
