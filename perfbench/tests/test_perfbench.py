"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The generator and comparison tests take seconds. The tiny-run tests build
the engine if needed and run each workload at the `tiny` size (256 KiB of
text, sf0.001-sized tables), a few minutes in all.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")

# The end-to-end metrics each workload's full record carries (the summary
# line carries only run.END_TO_END).
WORKLOAD_METRICS = {
    "mapreduce_text": ["text_mb_s", "wordcount_s", "invindex_s", "mapreduce_api_s"],
    "batch_queries": ["query_p50_s", "query_tail_s", "query_tail_pct", "query_tail_n"],
    "write_path": ["commit_p50_s", "commit_tail_s", "read_p50_s", "gate_p50_s", "gate_tail_s"],
}
COMMON_METRICS = ["setup_s", "pass_s", "peak_rss_mb"]


def tree_bytes(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generate(self, seed, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        gen.corpus(seed, d, 0.2)
        gen.fixture(seed, d, 0.1)
        gen.changes(seed, d, 0.1)
        return tree_bytes(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a = self.generate(7, "a")
        b = self.generate(7, "b")
        c = self.generate(8, "c")
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(c))
        for name in a:
            if name not in ("region.parquet", "nation.parquet"):  # fixed tables
                self.assertNotEqual(a[name], c[name], name)

    def test_reference_offsets(self):
        lines = ["Hello, world!", "", "a  b--c", "   ", "x y"]
        # cleaned: "Hello world"(11) | blank(+1) | "a  bc"(5) | "   "(3) | "x y"
        got = gen.reference_offsets(lines, {"Hello", "world", "a", "bc", "x", "y"})
        self.assertEqual(got, {"Hello": [0], "world": [6], "a": [12], "bc": [14],
                               "x": [20], "y": [22]})

    def test_corpus_tallies_match_text(self):
        d = os.path.join(self.tmp, "t")
        os.makedirs(d)
        e = gen.corpus(3, d, 0.2)
        with open(os.path.join(d, "corpus.txt"), encoding="utf-8") as f:
            lines = f.read().split("\n")[:-1]
        import re
        toks = [t for l in lines for t in re.sub(r"[^a-zA-Z0-9 ]", "", l).split(" ") if t]
        self.assertEqual(e["total_tokens"], len(toks))
        self.assertEqual(e["distinct_words"], len(set(toks)))
        self.assertTrue(any(l == "" for l in lines))
        self.assertTrue(any("  " in re.sub(r"[^a-zA-Z0-9 ]", "", l).strip() for l in lines))


class CompareTest(unittest.TestCase):
    def test_refuses_different_core_counts(self):
        a = {"workload": "write_path", "trace": False,
             "env": {"nproc": 4, "cores": 4, "size": "full", "seconds": 10}}
        b = json.loads(json.dumps(a))
        self.assertIsNone(compare.comparable(a, b))
        b["env"]["nproc"] = b["env"]["cores"] = 32
        self.assertIn("nproc", compare.comparable(a, b))


class BenchmarkJsonTest(unittest.TestCase):
    def test_lists_match_run_py(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


class TinyRunTest(unittest.TestCase):
    """One tiny traced run per workload: the summary line carries every
    per-layer metric, the full record every end-to-end one; plus one
    untraced run for the end-to-end summary line."""

    def bench(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", workload, "--seed", "5", "--seconds", "2",
                            "--trace", str(trace), "--size", "tiny"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        record, summary = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(sorted(summary), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(summary["correct"], record["failed_ops"])
        self.assertEqual(summary["failed"], 0)
        self.assertGreaterEqual(summary["attempted"], 1)
        return record, summary

    def assert_metrics(self, metrics, names):
        for n in names:
            self.assertIn(n, metrics)
            self.assertIsInstance(metrics[n]["value"], (int, float), n)
            self.assertTrue(metrics[n]["unit"], n)

    def test_traced_runs(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                record, summary = self.bench(w, 1)
                self.assertEqual(list(summary["metrics"]), run.PER_LAYER)
                self.assert_metrics(summary["metrics"], run.PER_LAYER)
                self.assertEqual({k: v["unit"] for k, v in summary["metrics"].items()}, units)
                self.assert_metrics(record["metrics"], COMMON_METRICS + WORKLOAD_METRICS[w])
                self.assertEqual(record["env"]["nproc"], os.cpu_count())
                spans = os.path.join(ROOT, ".bench_build", "results",
                                     f"{w}-seed5-trace1-tiny-spans.json")
                with open(spans) as f:
                    s = json.load(f)
                self.assertTrue(all({"id", "op", "parent", "name", "start_ns", "end_ns"} <= set(x)
                                    for x in s))
                self.assertTrue(any(x["name"] == "spark.job" for x in s))
                if w == "mapreduce_text":
                    self.assertGreater(summary["metrics"]["io.text_read_tasks"]["value"], 0)
                if w == "batch_queries":
                    self.assertGreater(summary["metrics"]["io.tables_load_s"]["value"], 0)
                    # its queries write nothing: executing a result is `collect`
                    self.assertEqual(summary["metrics"]["jobs.by_site.write"]["value"], 0)
                    self.assertGreater(summary["metrics"]["jobs.by_site.collect"]["value"], 0)
                if w == "write_path":
                    self.assertGreater(summary["metrics"]["stream.batches"]["value"], 0)
                    self.assertGreater(summary["metrics"]["versioned.commit_s"]["value"], 0)

    def test_untraced_summary(self):
        record, summary = self.bench("mapreduce_text", 0)
        self.assertEqual(list(summary["metrics"]), run.END_TO_END)
        self.assert_metrics(summary["metrics"], run.END_TO_END)

    def test_no_result_without_engine_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "write_path",
                                "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
