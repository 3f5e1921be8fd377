"""Tests of the benchmark itself.

    python3 perfbench/tests/test_perfbench.py

The generator tests run in seconds. The others start the harness JVM: the
registry test once, the end-to-end tests run `bi_scan` with a one-second
window in both modes, about a minute and a half in all. They build the
engine first if it is stale.
"""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench", "test")
WORKLOAD, SEED = "bi_scan", 3


def table_digests(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        t = pq.read_table(f)
        out[os.path.basename(f)] = hashlib.sha256(
            b"".join(c.to_pylist().__repr__().encode() for c in t.columns)).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def gen(self, seed, sub):
        d = os.path.join(SCRATCH, "gen", sub)
        m = gen.generate(d, 0.002, seed)
        return m, table_digests(d)

    def test_same_seed_same_tables(self):
        m1, d1 = self.gen(5, "a")
        m2, d2 = self.gen(5, "b")
        self.assertEqual(d1, d2)
        self.assertEqual(m1["tables"], m2["tables"])

    def test_seed_changes_values_not_sizes(self):
        m1, d1 = self.gen(5, "a")
        m2, d2 = self.gen(6, "c")
        rows = lambda m: {t: v["rows"] for t, v in m["tables"].items()}
        self.assertEqual(rows(m1), rows(m2))
        changed = [t for t in d1 if d1[t] != d2[t]]
        # region and nation are fixed dimension tables; every other table
        # depends on the seed
        self.assertEqual(sorted(changed),
                         sorted(f"{t}.parquet" for t in gen.TABLES if t not in ("region", "nation")))
        self.assertEqual(sorted(d1), sorted(f"{t}.parquet" for t in gen.TABLES))

    def test_schemas_follow_fixtures(self):
        """Every generated table has the column names and types FIXTURES.md
        lists. Timestamps are the exception in unit only: FIXTURES.md gives
        ms for the order and ship dates and ns for `events.ts`, while the
        project's parquet test data stores all three as microseconds at
        every scale, and the generator follows the data (so `Tables.events`
        takes the same read path as on that data)."""
        with open(os.path.join(ROOT, "FIXTURES.md")) as f:
            rows = re.findall(r"^\| (\w+) \| [\d,]+ \| `([^`]*)`", f.read(), re.M)
        want = {t: [tuple(c.split()[:2]) for c in cols.split(", ")] for t, cols in rows}
        self.assertEqual(sorted(want), sorted(gen.TABLES))
        self.gen(5, "a")
        for t in gen.TABLES:
            schema = pq.read_schema(os.path.join(SCRATCH, "gen", "a", f"{t}.parquet"))
            got = [(f.name, str(f.type).replace("element: ", "")) for f in schema]
            self.assertEqual([n for n, _ in got], [n for n, _ in want[t]], t)
            for (name, typ), (_, fixture) in zip(got, want[t]):
                if fixture.startswith("timestamp["):
                    self.assertEqual(typ, "timestamp[us]", f"{t}.{name}")
                else:
                    self.assertEqual(typ, fixture, f"{t}.{name}")

    def test_near_duplicate_share_is_fixed(self):
        for seed, sub in ((5, "a"), (6, "c")):
            self.gen(seed, sub)
            texts = pq.read_table(os.path.join(SCRATCH, "gen", sub, "documents.parquet"))["text"].to_pylist()
            self.assertEqual(sum(t.endswith(" dup") for t in texts), len(texts) // 20)


def harness_list():
    cp = build.build()
    out = os.path.join(SCRATCH, "list.json")
    os.makedirs(SCRATCH, exist_ok=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.Harness",
                    "mode=list", f"out={out}"], check=True, cwd=ROOT)
    with open(out) as f:
        return json.load(f)


class RegistryTest(unittest.TestCase):
    def test_every_workload_query_is_registered(self):
        listed = harness_list()
        _, workloads = run.load_spec()
        for name, wl in workloads.items():
            missing = set(wl["queries"]) - set(listed["registered"])
            self.assertFalse(missing, f"{name}: not in SparkEntry.queries: {missing}")
            others = [q for q in wl["queries"] if listed["owners"].get(q, "other") == "other"]
            self.assertFalse(others, f"{name}: queries outside the measured modules: {others}")

    def test_benchmark_names_the_workloads_of_the_spec(self):
        bench, workloads = run.load_spec()
        self.assertEqual([w["name"] for w in bench["workloads"]], list(workloads))


class EndToEndTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.out = {t: cls.run_once(t) for t in (0, 1)}

    @staticmethod
    def run_once(trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", WORKLOAD,
                            "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        if r.returncode != 0:
            raise AssertionError(f"run.py failed:\n{r.stdout[-3000:]}\n{r.stderr[-3000:]}")
        return r.stdout

    def last_line(self, trace):
        return json.loads(self.out[trace].strip().splitlines()[-1])

    def test_printed_metric_names_match_benchmark_json(self):
        bench, _ = run.load_spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = self.last_line(trace)
            self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(line["correct"])
            want = {m["name"]: m["unit"] for m in bench[key]}
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, want)

    def test_job_spans_lie_inside_their_pass(self):
        with open(os.path.join(ROOT, ".perfbench", "traces", f"{WORKLOAD}-seed{SEED}.json")) as f:
            spans = json.load(f)
        by_id = {s["id"]: s for s in spans}
        passes = {s["pass"]: s for s in spans if s["kind"] == "pass"}
        jobs = [s for s in spans if s["kind"] == "job"]
        self.assertTrue(passes and jobs)
        for j in jobs:
            p = passes[j["pass"]]
            self.assertGreaterEqual(j["start_ms"], p["start_ms"], j)
            self.assertLessEqual(j["end_ms"], p["end_ms"], j)
            self.assertIn(j["parent"], by_id)
        for s in spans:
            if s["parent"] is not None:
                self.assertIn(s["parent"], by_id, s)

    def test_end_to_end_lines_carry_counts(self):
        for name in ("setup_s", "pass_s", "heap_peak_mb", "ok_frac"):
            self.assertRegex(self.out[0], rf"perfbench {WORKLOAD} {name} = [0-9.]+ \S+ \(n=\d+")
        self.assertIn("checked against DuckDB", self.out[0])


if __name__ == "__main__":
    unittest.main(verbosity=2)
