"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The EndToEnd tests run the benchmark at the small data scale (sf0.001),
about a minute and a half on four cores.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), 90)

    def test_omitted_with_nine_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(1, 100))))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 95 + [2.0] * 5))

    def test_empty(self):
        self.assertIsNone(stats.tail_percentile([]))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        parent = {"start": 0.0, "end": 100.0}
        kids = [{"start": a, "end": b}
                for a, b in ((10, 30), (20, 50), (60, 70), (90, 120))]
        # covered: 10..50, 60..70 and 90..100 (clipped) = 60
        self.assertAlmostEqual(stats.self_ms(parent, kids), 40.0)

    def test_nested_and_disjoint(self):
        self.assertAlmostEqual(stats.covered_ms(
            0, 10, [(1, 9), (2, 3), (11, 12), (-5, 0.5)]), 8.5)

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_ms({"start": 5, "end": 7}, []), 2.0)


class Verdict(unittest.TestCase):
    def test_improved_needs_nine_of_ten_pairs_and_a_gap_over_the_spread(self):
        parent = [10.0 + 0.1 * i for i in range(10)]
        change = [x - 2.0 for x in parent]
        v, wins, n = compare.verdict(parent, change, parent, change, 0.1, True)
        self.assertEqual((v, wins, n), ("improved", 10, 10))

    def test_worse_beyond_the_bound(self):
        parent = [10.0] * 10
        change = [12.0] * 10
        self.assertEqual(compare.verdict(parent, change, parent, change, 0.1,
                                         True)[0], "worse")

    def test_unresolved_when_the_parent_spreads_wider_than_the_bound(self):
        parent = [8.0, 12.0] * 5
        change = [9.0, 11.5] * 5
        self.assertEqual(compare.verdict(parent, change, parent, change, 0.1,
                                         True)[0], "unresolved")

    def test_unchanged_within_the_bound(self):
        parent = [10.0, 10.2] * 5
        change = [10.1, 10.15] * 5
        self.assertEqual(compare.verdict(parent, change, parent, change, 0.1,
                                         True)[0], "unchanged")


def span(id_, parent, kind, start, end, pass_=-1, attrs=None):
    return {"id": id_, "parent": parent, "kind": kind, "name": kind,
            "pass": pass_, "start": start, "end": end, "attrs": attrs or {}}


class FailedAction(unittest.TestCase):
    """A traced pass in which the second key's action threw: the harness
    closes the action span at the throw and records the error."""

    def record(self):
        pass_ = {"traced": True, "wall_s": 0.1, "storage_mem_mb_pass_end": 0.0,
                 "storage_rdds_after_clear": 0, "jvm_gc_ms": 0,
                 "heap_peak_mb": 100.0}
        sample = {"pass": 1, "memo_builds": 0, "memo_build_s": {}}
        return {"nproc": 4, "passes": [
            dict(pass_, **{"pass": 0, "traced": False}), dict(pass_, **{"pass": 1}),
            dict(pass_, **{"pass": 2, "traced": False})],
            "samples": [dict(sample, key="ok", rows=5, digest="d", error=None),
                        dict(sample, key="bad", rows=0, digest=None,
                             error="boom")],
            "spans": [
                span("h1", None, "workload", 0, 100),
                span("h2", "h1", "pass", 0, 100, 1),
                span("h3", "h2", "key", 0, 40, 1),
                span("h4", "h3", "operators.build", 0, 10, 1),
                span("h5", "h3", "action", 10, 40, 1),
                span("j1", "h5", "job", 15, 35, attrs=None),
                span("s1.0", "j1", "stage", 16, 34,
                     attrs={"tasks": 4, "run_ms": 40}),
                span("h6", "h2", "key", 40, 90, 1),
                span("h7", "h6", "operators.build", 40, 50, 1),
                span("h8", "h6", "action", 50, 60, 1),
                span("j2", "h8", "job", 52, 58),
                span("q1.analysis", None, "catalyst.analysis", 51, 52),
            ]}

    def test_per_layer_counts_the_failed_key(self):
        m = stats.per_layer(self.record())
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["operators.build_ms"], 20)
        # action self time: 30 - 20 (job 1) + 10 - 6 (job 2) - 1 (analysis)
        self.assertAlmostEqual(m["action.self_ms"], 13.0)
        self.assertEqual(m["scheduler.tasks"], 4)
        self.assertEqual(m["trace.orphan_jobs"], 0)

    def test_tracing_overhead_leaves_out_pass_0(self):
        rec = self.record()
        for p, wall in zip(rec["passes"], (9.0, 1.25, 1.0)):
            p["wall_s"] = wall
        self.assertAlmostEqual(stats.per_layer(rec)["trace.overhead_s"], 0.25)

    def test_failed_key_is_counted_in_failed_ops(self):
        c = stats.check_outputs(self.record()["samples"],
                                {"ok": {"digest": "d"}, "bad": {"digest": "e"}})
        self.assertEqual((c["attempted"], c["failed"]), (2, 1))
        self.assertEqual(c["failures"][0]["key"], "bad")


def run_bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                        "run.py"), *args],
                          capture_output=True, text=True, cwd=cwd,
                          timeout=600)


class EndToEnd(unittest.TestCase):
    """Runs the patent pipeline once untraced and once traced at sf0.001."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        runs = os.path.join(ROOT, ".bench_build", "runs")
        before = set(glob.glob(os.path.join(runs, "*.json")))
        cls.out = {}
        for trace in ("0", "1"):
            r = run_bench("--workload", "patent_refresh", "--seed", "7",
                          "--seconds", "1", "--trace", trace,
                          "--scale", "sf0.001")
            assert r.returncode == 0, r.stderr[-3000:]
            cls.out[trace] = json.loads(r.stdout.strip().splitlines()[-1])
        new = sorted(set(glob.glob(os.path.join(runs, "*.json"))) - before)
        cls.records = {}
        for path in new:
            with open(path) as f:
                rec = json.load(f)
            cls.records[str(rec["trace"])] = rec

    def test_result_object_and_correctness(self):
        for trace, res in self.out.items():
            self.assertEqual(set(res), {"correct", "attempted", "failed",
                                        "metrics"})
            self.assertTrue(res["correct"], res)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(res["failed"], 0)

    def test_emitted_names_and_units_match_benchmark_json(self):
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            want = {m["name"]: m["unit"] for m in self.bench[section]}
            got = {k: v["unit"] for k, v in self.out[trace]["metrics"].items()}
            self.assertEqual(got, want)
            for v in self.out[trace]["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))

    def test_jobs_parent_to_key_spans_through_the_local_property(self):
        rec = self.records["1"]["record"]
        spans = {s["id"]: s for s in rec["spans"]}
        jobs = [s for s in rec["spans"] if s["kind"] == "job"]
        self.assertTrue(jobs)
        kinds = set()
        for j in jobs:
            holder = spans.get(j["parent"])
            self.assertIsNotNone(holder, f"job {j['id']} has no parent span")
            kinds.add(holder["kind"])
            self.assertEqual(spans[holder["parent"]]["kind"], "key")
            self.assertGreaterEqual(j["start"], holder["start"] - 1.0)
        # the refresh latches its PageRank rounds inside the build call,
        # so some jobs belong to the build span and some to the action
        self.assertEqual(kinds, {"operators.build", "action"})
        self.assertEqual(self.records["1"]["layers"]["trace.orphan_jobs"], 0)

    def test_fails_without_the_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run_bench("--workload", "patent_refresh", "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
