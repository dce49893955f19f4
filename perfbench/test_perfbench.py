"""Tests of the benchmark's own code (no Spark needed).

Run from the repo root:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

with open("BENCHMARK.json") as fh:
    BENCH = json.load(fh)


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(".bench_build", exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=".bench_build")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _gen(self, name, seed):
        d = os.path.join(self.tmp, name)
        datagen.write_tables(f"{d}/tables", seed)
        datagen.write_jira(f"{d}/jira", seed, 30, 7)
        return d

    def test_same_seed_same_bytes(self):
        self.assertTrue(_same_tree(self._gen("a", 5), self._gen("b", 5)))

    def test_other_seed_other_bytes(self):
        a, c = self._gen("a", 5), self._gen("c", 6)
        for f in ("tables/lineitem.parquet", "tables/documents.parquet",
                  "jira/raw/KAFKA.jsonl"):
            self.assertFalse(filecmp.cmp(f"{a}/{f}", f"{c}/{f}",
                                         shallow=False), f)

    def test_jira_corpus_is_balanced_and_unique(self):
        d = self._gen("a", 5)
        with open(f"{d}/jira/manifest.json") as fh:
            manifest = json.load(fh)
        keys = [m["key"] for m in manifest]
        self.assertEqual(len(keys), len(set(keys)))
        counts = {}
        for m in manifest:
            if m["project"] == "KAFKA":
                src = (m["source_project"], m["source_key"])
                counts[src] = counts.get(src, 0) + 1
        self.assertLessEqual(max(counts.values()) - min(counts.values()), 1)
        # the stub pages hold exactly the raw issues, in order
        with open(f"{d}/jira/raw/KAFKA.jsonl") as fh:
            raw = [json.loads(line) for line in fh]
        paged = []
        for start in range(0, 30, 7):
            with open(f"{d}/jira/stub/KAFKA/search_{start}.json") as fh:
                paged += json.load(fh)["issues"]
        self.assertEqual(raw, paged)

    def test_token_maps_back_to_fixture_text(self):
        fixtures = datagen.load_fixtures()
        _, src = fixtures[0]
        copy = datagen._replicate(src, "KAFKA-9", "9", "zqabc")
        self.assertNotEqual(copy["fields"]["summary"], src["fields"]["summary"])
        back = checks._map_back(copy["fields"]["summary"], "KAFKA-9",
                                src["key"], "zqabc")
        self.assertEqual(back, src["fields"]["summary"])


class MetricNamesTest(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        ops = [{"name": "q", "pass": 0, "wall_s": 1.0, "storage_mb": 1.0},
               {"name": "r", "pass": 0, "wall_s": 2.0, "storage_mb": 2.0}]
        for kind in ("cold", "steady", "jira"):
            got = run.end_to_end(kind, ops, {"setup_s": 3.0}, 10)
            want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_per_layer_names_and_units(self):
        os.makedirs(".bench_build", exist_ok=True)
        tmp = tempfile.mkdtemp(dir=".bench_build")
        try:
            spans = [
                {"kind": "phase", "op": "q", "phase": "construct",
                 "start_ms": 0, "end_ms": 100},
                {"kind": "phase", "op": "q", "phase": "force",
                 "start_ms": 100, "end_ms": 300},
                {"kind": "job_start", "job": 0, "group": "q",
                 "phase": "force", "start_ms": 120},
                {"kind": "job_end", "job": 0, "end_ms": 280},
                {"kind": "stage", "stage": 0, "job": 0, "start_ms": 120,
                 "end_ms": 280, "tasks": 4, "run_ms": 400, "cpu_ns": 10**8,
                 "gc_ms": 0, "wait_ms": 5, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0, "input": 1024,
                 "records_written": 0, "bytes_written": 0},
            ]
            with open(f"{tmp}/spans.jsonl", "w") as fh:
                fh.writelines(json.dumps(s) + "\n" for s in spans)
            ops = [{"name": "q", "pass": 0, "construct_s": 0.1, "plan_s": 0.0,
                    "force_s": 0.2, "wall_s": 0.3, "storage_mb": 1.0}]
            result = {"heap_peak_mb": 1.0, "gc_s": 0.0, "listener_s": 0.0}
            _, got = layers.per_layer("cold", ops, result, tmp,
                                      f"{tmp}/none.json", 0.3, 4, 10, 1, 3)
        finally:
            shutil.rmtree(tmp)
        want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertAlmostEqual(got["exec.busy_ratio"][0], 0.4 / (0.3 * 4))

    def test_workloads_match(self):
        self.assertEqual(sorted(run.WORKLOADS),
                         sorted(w["name"] for w in BENCH["workloads"]))


if __name__ == "__main__":
    unittest.main()
