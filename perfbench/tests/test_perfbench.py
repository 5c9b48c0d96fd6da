"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import metrics as M  # noqa: E402
import run as R  # noqa: E402


def span(sid, parent, name, start, end, **attrs):
    return dict(qid="p1.0", query="q", id=sid, parent=parent, name=name,
                start=start, end=end, **attrs)


def synthetic_query(qid="p1.0", name="q", t0=1000.0):
    """A traced query: 100 ms wall; build 0-40 with analysis 0-5 and one
    fill job 10-30 (one stage 12-28); sink 40-95 with planning 40-45 and a
    job 50-90 running two overlapping stages 52-80 and 60-88; release 95-100."""
    def s(sid, parent, kind, a, b, **attrs):
        d = span(sid, parent, kind, t0 + a, t0 + b, **attrs)
        d.update(qid=qid, query=name)
        return d
    metrics = {"run_ms": 10, "cpu_ms": 5.0, "gc_ms": 1, "shuffle_write_bytes": 100,
               "shuffle_read_bytes": 50, "shuffle_fetch_wait_ms": 0, "spill_bytes": 0,
               "input_bytes": 1000, "input_records": 30, "output_bytes": 0}
    return [
        s(qid, None, "query", 0, 100, persisted_rdds=1, stored_bytes=2**20, graft_nodes=2),
        s(qid + "/build", qid, "build", 0, 40),
        s(qid + "/plan0.analysis", qid + "/build", "plan.analysis", 0, 5),
        s(qid + "/job1", qid + "/build", "job", 10, 30),
        s(qid + "/stage1.0", qid + "/job1", "stage", 12, 28, tasks=2, queue_wait_ms=1,
          metrics=metrics),
        s(qid + "/sink", qid, "sink", 40, 95),
        s(qid + "/plan1.planning", qid + "/sink", "plan.planning", 40, 45),
        s(qid + "/job2", qid + "/sink", "job", 50, 90),
        s(qid + "/stage2.0", qid + "/job2", "stage", 52, 80, tasks=4, queue_wait_ms=2,
          metrics=metrics),
        s(qid + "/stage3.0", qid + "/job2", "stage", 60, 88, tasks=4, queue_wait_ms=3,
          metrics=metrics),
        s(qid + "/release", qid, "release", 95, 100),
    ]


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_reports_the_sample_count(self):
        self.assertEqual(M.percentile([4, 1, 3, 2, 5], 50), {"value": 3, "n": 5})
        p90 = M.percentile(list(range(1, 11)), 90)
        self.assertEqual(p90["n"], 10)
        self.assertAlmostEqual(p90["value"], 9.1)

    def test_single_and_empty_samples(self):
        self.assertEqual(M.percentile([7.5], 90), {"value": 7.5, "n": 1})
        self.assertEqual(M.percentile([], 50), {"value": None, "n": 0})


class SelfTimeTest(unittest.TestCase):
    def test_parent_self_time_is_what_its_children_leave(self):
        st = M.self_times(synthetic_query(t0=0.0))
        self.assertAlmostEqual(st["p1.0"], 0.0)           # build, sink, release tile it
        self.assertAlmostEqual(st["p1.0/build"], 40 - 5 - 20)
        self.assertAlmostEqual(st["p1.0/job1"], 20 - 16)
        self.assertAlmostEqual(st["p1.0/stage1.0"], 16)
        self.assertAlmostEqual(st["p1.0/sink"], 55 - 5 - 40)
        # job2 is covered 52..88 by its stages
        self.assertAlmostEqual(st["p1.0/job2"], 40 - 36)
        # the 60..80 overlap of the two stages is split between them
        self.assertAlmostEqual(st["p1.0/stage2.0"], 8 + 10)
        self.assertAlmostEqual(st["p1.0/stage3.0"], 8 + 10)

    def test_self_times_sum_to_at_most_the_wall_time(self):
        spans = synthetic_query(t0=0.0)
        # a child that overruns its parent is clipped to it
        spans.append(span("p1.0/job9", "p1.0/release", "job", 97, 130))
        st = M.self_times(spans)
        self.assertLessEqual(sum(st.values()), 100 + 1e-9)
        self.assertAlmostEqual(st["p1.0/job9"], 3)

    def test_query_layers(self):
        q = M.query_layers(synthetic_query())
        self.assertAlmostEqual(q["wall_ms"], 100)
        self.assertAlmostEqual(q["self_sum_ms"], 100)
        self.assertEqual(q["operators.build_jobs"], 1)
        self.assertEqual((q["exec.jobs"], q["exec.stages"], q["exec.tasks"]), (2, 3, 10))
        # stages cover 12..28 and 52..88
        self.assertAlmostEqual(q["exec.sched_gap_ms"], 100 - 16 - 36)
        self.assertEqual(q["exec.queue_wait_ms"], 6)
        self.assertEqual(q["sources.read_records"], 90)
        self.assertAlmostEqual(q["cache.stored_mb"], 1.0)
        self.assertAlmostEqual(q["self.compute_ms"], 16 + 36)
        self.assertAlmostEqual(q["self.build_ms"], 15 + 5)
        self.assertEqual(M.classify(q), "compute_bound")


class FailureCountTest(unittest.TestCase):
    def result(self, errors):
        queries = [{"name": n, "error": errors.get((n, p)), "kind": "plain", "pass": p}
                   for p in (0, 1) for n in ("a", "b", "c")]
        return {"check": {"failed": {}}, "queries": queries}

    def test_a_query_that_throws_counts_on_every_execution(self):
        res = self.result({("b", 0): "RuntimeException: forced", ("b", 1): "RuntimeException: forced"})
        attempted, failed, failing = R.tally(["a", "b", "c"], res, {})
        self.assertEqual((attempted, failed), (3 + 6, 2))
        self.assertEqual(failing, {"b": "RuntimeException: forced"})
        self.assertAlmostEqual(M.fail_ratio(attempted, failed), 2 / 9)

    def test_a_wrong_result_counts_once_and_is_named(self):
        res = self.result({})
        res["check"]["failed"] = {"c": "boom"}
        attempted, failed, failing = R.tally(["a", "b", "c"], res,
                                             {"a": "row 0 col x", "c": "no result"})
        self.assertEqual((attempted, failed), (9, 2))
        self.assertEqual(sorted(failing), ["a", "c"])

    def test_check_outputs_flags_a_mismatch_and_an_empty_result(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            for name, frame in {"good": pd.DataFrame({"x": [1, 2]}),
                                "bad": pd.DataFrame({"x": [1, 3]}),
                                "empty": pd.DataFrame({"x": pd.Series([], dtype="int64")})}.items():
                (d / name).mkdir()
                frame.to_parquet(d / name / "part-0.parquet")
            want = d / "want.pkl"
            pd.DataFrame({"x": [1, 2]}).to_pickle(want)
            oracles = {"good": str(want), "bad": str(want)}
            problems, rows = R.check_outputs({"queries": ["good", "bad", "empty", "lost"]},
                                             d, oracles)
        self.assertEqual(sorted(problems), ["bad", "empty", "lost"])
        self.assertIn("row 1 col x", problems["bad"])
        self.assertEqual(rows, {"good": 2, "bad": 2, "empty": 0})


class MetricNamesTest(unittest.TestCase):
    """Every metric the benchmark prints is declared in BENCHMARK.json."""

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())

    def harness_result(self):
        q = {"name": "q", "error": None, "start": 0.0, "sink_end": 50.0, "end": 60.0}
        passes = [{"kind": k, "start": 0.0, "end": 100.0, "compiles": 1, "compile_ns": 10**6}
                  for k in ("warm", "plain", "traced")]
        return {"init_ms": 500.0, "passes": passes,
                "check": {"failed": {}, "compiles": 3, "compile_ns": 3 * 10**6,
                          "heap_bytes": {"q": 2**27}},
                "queries": [dict(q, kind=k) for k in ("warm", "plain", "traced")]}

    def names(self, key):
        return [m["name"] for m in self.spec[key]]

    def test_end_to_end_names(self):
        values, n = R.end_to_end(self.harness_result(), [5.0, 6.0, 7.0], 4, 1)
        self.assertEqual(sorted(values), sorted(self.names("end_to_end")))
        self.assertEqual(n, 1)
        self.assertEqual(values["setup_s"], 6.0)
        self.assertEqual(values["query_ok_ratio"], 0.75)

    def test_per_layer_names(self):
        values, kinds = R.per_layer(self.harness_result(), synthetic_query(name="q"),
                                    {"q": 3}, 1)
        self.assertEqual(sorted(values), sorted(self.names("per_layer")))
        self.assertEqual(kinds, {"q": "compute_bound"})

    def test_units_and_directions_are_declared(self):
        for key in ("end_to_end", "per_layer"):
            for m in self.spec[key]:
                self.assertTrue(m["unit"])
                self.assertIn(m["better"], ("lower", "higher"))


if __name__ == "__main__":
    unittest.main()
