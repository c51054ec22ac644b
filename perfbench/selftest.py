#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic. They need no JVM.

Usage: python3 perfbench/selftest.py
"""
import copy
import glob
import json
import os
import unittest

import run

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def fake_records(passes=run.PASSES, names=("a_q", "b_q", "c_q"), trace=True):
    """Harness records of a small run: every query takes 100 ms per layer,
    fires one job per layer, and b_q is a replay with two micro-batches."""
    recs = [{"k": "setup", "setup_ms": 5000.0, "session_ms": 1.0, "resolve_ms": 1.0,
             "warm_ms": 1.0, "epoch_ms": 10_000}]
    t, attempt, job = 10_000.0, 0, 0
    for p in range(1, passes + 1):
        p0 = t
        for name in names:
            attempt += 1
            marks = [t, t + 100, t + 200, t + 300]
            recs.append({"k": "q", "attempt": attempt, "pass": p, "name": name, "module": "M",
                         "start_ms": t, "end_ms": t + 300, "build_ms": 100.0, "plan_ms": 100.0,
                         "exec_ms": 100.0, "wall_ms": 300.0, "release_ms": 1.0,
                         "marks_ms": marks, "analysis_ms": 1, "optimization_ms": 2,
                         "planning_ms": 3, "rows": 1, "hash": f"h-{name}", "failed_in": None,
                         "error": None, "storage_bytes": 1 << 20, "rdds": 1, "rdd_ids": [1]})
            for i, phase in enumerate(("build", "plan", "exec")):
                job += 1
                # a replay's job runs inside its first micro-batch
                end = marks[i] + (30 if name == "b_q" and phase == "build" else 60)
                recs.append({"k": "job", "job": job, "attempt": str(attempt), "phase": phase,
                             "start_ms": marks[i] + 10, "end_ms": end,
                             "stage_names": ["parquet at U.scala:18" if phase == "build"
                                             else "collect at X.scala:1"],
                             "cached_rdds": [], "stages": 1, "tasks": 4, "task_run_ms": 80,
                             "task_cpu_ms": 50.0, "gc_ms": 1, "task_wait_ms": 2,
                             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                             "spill_bytes": 0, "input_rows": 10})
            if name == "b_q":
                for b in range(2):
                    recs.append({"k": "batch", "run_id": f"r{attempt}", "batch_id": b,
                                 "start_ms": t + 5 + 40 * b, "batch_ms": 30, "input_rows": 50,
                                 "trigger_ms": 30, "add_batch_ms": 20, "query_planning_ms": 5,
                                 "wal_commit_ms": 1, "state_commit_ms": 2,
                                 "state_update_ms": 3, "state_rows": 7,
                                 "state_mem_bytes": 1024})
            t += 305
        recs.append({"k": "pass", "pass": p, "wall_ms": t - p0, "start_ms": p0, "end_ms": t})
    recs.append({"k": "host", "steal_jiffies": 0, "load1": 1.0, "jvm_gc_ms": 10,
                 "measured_ms": t - 10_000, "start_ms": 10_000, "end_ms": t})
    recs.append({"k": "env", "nproc": 4})
    if not trace:
        recs = [r for r in recs if r["k"] not in ("job", "batch")]
    return recs


EXPECTED = {n: [1, f"h-{n}"] for n in ("a_q", "b_q", "c_q")}
WORKLOAD = {"name": "w", "queries": sorted(EXPECTED)}


class SelfTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run.summarize(fake_records(trace=bool(trace)), WORKLOAD, EXPECTED, trace)
            self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in BENCH[key]))
            for m in BENCH[key]:
                self.assertEqual(res["metrics"][m["name"]][1], m["unit"], m["name"])
            line = json.loads(run.contract_line(res, [m["name"] for m in BENCH[key]]))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_workloads_match_benchmark_json(self):
        workloads = run.load_json("workloads.json")
        self.assertLessEqual({w["name"] for w in BENCH["workloads"]}, set(workloads))
        expected = run.load_json("expected.json")
        for w in workloads.values():
            self.assertTrue(set(w["queries"]) <= set(expected))

    def test_corrupted_digest_is_a_failure(self):
        recs = fake_records(trace=False)
        res = run.summarize(recs, WORKLOAD, EXPECTED, 0)
        self.assertEqual(res["failed"], 0)
        bad = copy.deepcopy(recs)
        next(r for r in bad if r["k"] == "q" and r["name"] == "b_q")["hash"] = "corrupt"
        res = run.summarize(bad, WORKLOAD, EXPECTED, 0)
        self.assertEqual(res["failed"], 1)
        self.assertEqual(res["failures"][0]["name"], "b_q")
        line = json.loads(run.contract_line(res, [m["name"] for m in BENCH["end_to_end"]]))
        self.assertFalse(line["correct"])

    def test_burst_in_one_pass_does_not_move_warm_figures(self):
        recs = fake_records()
        base = run.summarize(recs, WORKLOAD, EXPECTED, 1)["metrics"]
        slow = copy.deepcopy(recs)
        for r in slow:
            if r["k"] == "q" and r["pass"] == run.TIMED_FROM:
                r["wall_ms"] *= 3
        res = run.summarize(slow, WORKLOAD, EXPECTED, 1)["metrics"]
        for name in ("trace.pass_s", "query_p50_s"):
            self.assertAlmostEqual(res[name][0], base[name][0], msg=name)
        self.assertAlmostEqual(base["trace.pass_s"][0], 3 * 0.301)
        self.assertAlmostEqual(base["query_p50_s"][0], 0.3)

    def test_same_seed_same_order(self):
        names = run.load_json("workloads.json")["ts_etl"]["queries"]
        a, b = run.pass_orders(names, 7), run.pass_orders(names, 7)
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.pass_orders(names, 8))
        for order in a:
            self.assertEqual(sorted(order), sorted(names))

    def test_layer_spans_cover_query_wall_time(self):
        res = run.summarize(fake_records(), WORKLOAD, EXPECTED, 1)
        self.assertGreaterEqual(res["coverage"], 0.99)
        m = res["metrics"]
        self.assertEqual(m["build.schema_jobs"][0], 1.0)
        self.assertAlmostEqual(m["self.build_ms"][0] + m["self.build_job_ms"][0]
                               + m["self.batch_ms"][0], 100.0)
        self.assertEqual(m["stream.batches"][0], 2.0)

    def test_committed_traced_runs_cover_query_wall_time(self):
        paths = sorted(glob.glob(os.path.join(run.HERE, "results", "*", "*.records.jsonl")))
        self.assertTrue(paths)
        workloads = run.load_json("workloads.json")
        for path in paths:
            with open(path) as f:
                recs = [json.loads(l) for l in f]
            name = os.path.basename(path).split("_seed")[0]
            res = run.summarize(recs, dict(workloads[name], name=name),
                                run.load_json("expected.json"), 1)
            self.assertGreaterEqual(res["coverage"], 0.99, path)
            self.assertEqual(res["failed"], 0, path)

    def test_union(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 35), 25)


if __name__ == "__main__":
    os.chdir(run.ROOT)
    unittest.main()
