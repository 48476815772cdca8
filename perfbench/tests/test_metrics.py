"""Tests for the benchmark's own code: percentile rule, self time, failure
accounting, metric names and seeded inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from benchlib import gen, metrics  # noqa: E402


def op(index, kind, start, end, ok=True, units=1, traced=False, extra=None):
    return {"index": index, "kind": kind, "start_ms": start, "end_ms": end, "ok": ok,
            "units": units, "traced": traced, "error": None if ok else "boom",
            "extra": extra or {}}


def fake_result(workload, ops, **kw):
    r = {
        "workload": workload, "ops": ops, "global_failures": [],
        "setup": {"session_s": 5.0, "warmup_s": 3.0, "load_s": [2.0, 1.0, 1.5]},
        "phase": {"start_ms": 0.0, "end_ms": 10000.0},
        "heap": {"start_mb": 100.0, "end_mb": 120.0, "gc_peak_mb": 150.0},
        "summary": {}, "batches": [], "spans": [], "jobs": [], "stages": [], "plans": [],
    }
    r.update(kw)
    return r


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))  # 100 samples: rank 90 leaves exactly 10 beyond
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90))

    def test_one_sample_short_falls_back_to_p75(self):
        xs = list(range(1, 100))  # 99 samples: p90 leaves 9 beyond
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(p, 75.0)
        self.assertEqual(v, 75)

    def test_highest_qualifying_percentile_wins(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail_percentile(xs)[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(10000)))[0], 99.9)

    def test_too_few_samples_report_no_tail(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50.0)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), 3)
        self.assertEqual(metrics.percentile([4], 99), 4)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # children cover [10, 40] and [30, 60]: their union is 50 ms of 100
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(metrics.self_time((0, 100), [(-20, 10), (90, 130)]), 80)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 50), (20, 30), (70, 80)]), 50)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 25), []), 20)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 1), (0.5, 2), (3, 4)]), 3)


class FailureAccounting(unittest.TestCase):
    def test_failed_op_counts_as_failed_and_adds_no_work(self):
        ops = [op(0, "window", 0, 1000, units=100),
               op(1, "session", 1000, 2000, ok=False, units=500),
               op(2, "outer_join", 2000, 3000, units=100)]
        attempted, failed, ratio = metrics.accounting(ops)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(ratio, 1 / 3)
        self.assertEqual(metrics.rate(ops, 10.0), 20.0)  # (100 + 100) / 10 s

    def test_failed_op_counts_as_slowest_latency(self):
        ops = [op(0, "lookup", 0, 10), op(1, "lookup", 10, 20, ok=False),
               op(2, "lookup", 20, 35, ok=False)]
        lat = metrics.latency_samples(ops, ("lookup",))
        self.assertEqual(metrics.finite_median(lat), math.inf)
        wm = metrics.workload_metrics(fake_result("online_serving", ops))
        self.assertEqual(wm["lookup_p50_ms"][0], math.inf)
        self.assertAlmostEqual(wm["ops_per_s"][0], 0.1)  # one ok op in 10 s

    def test_setup_uses_the_median_load(self):
        r = fake_result("online_serving", [op(0, "lookup", 0, 100)])
        self.assertEqual(metrics.setup_seconds(r), 5.0 + 3.0 + 1.5)

    def test_late_rows_of_a_failed_op_still_show_in_the_canary(self):
        r = _fake_traced("stream_ingest")
        r["ops"][2]["ok"] = False  # a traced run whose rows were dropped as late
        r["batches"].append(dict(r["batches"][0], op=2, late_rows_dropped=7))
        r["batches"].append(dict(r["batches"][0], op=-1, late_rows_dropped=5))  # warm-up
        pl = metrics.per_layer(r, cores=4)
        self.assertEqual(pl["streaming.late_rows_dropped"][0], 7)


def _fake_traced(workload):
    kinds = {"online_serving": ["lookup", "upsert", "upsert", "lookup"],
             "stream_ingest": ["window", "session", "outer_join", "window"]}[workload]
    extra = {"online_serving": {"store_files": 10, "generations": 2, "created_bytes": 100,
                                "files_created": 2, "folded": True},
             "stream_ingest": {"run": 0, "chunks": 3}}[workload]
    ops = [op(i, k, i * 100.0, i * 100.0 + 80, traced=(i % 2 == 0), extra=extra)
           for i, k in enumerate(kinds)]
    spans, jobs, batches = [], [], []
    for i in (0, 2):
        root = 10 * i + 1
        spans += [{"id": root, "parent": 0, "op": i, "name": kinds[i], "layer": "op",
                   "start_ms": i * 100.0, "end_ms": i * 100.0 + 80},
                  {"id": root + 1, "parent": root, "op": i, "name": "action.collect",
                   "layer": "action", "start_ms": i * 100.0 + 10, "end_ms": i * 100.0 + 70},
                  {"id": root + 2, "parent": root, "op": i, "layer": "layer",
                   "name": {"lookup": "store.onlineFeaturesFor", "upsert": "sources.upsert",
                            "window": "contract.ContractJson.roundTrip"}.get(kinds[i], "x"),
                   "start_ms": i * 100.0, "end_ms": i * 100.0 + 5}]
        jobs.append({"id": i, "span": root + 1, "start_ms": i * 100.0 + 20,
                     "end_ms": i * 100.0 + 60, "stages": [i]})
    stages = [{"id": i, "job": i, "start_ms": 20.0, "end_ms": 60.0, "tasks": 4,
               "empty_tasks": 1, "run_ms": 40.0, "cpu_ms": 30.0, "gc_ms": 1.0,
               "wait_ms": 2.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_disk_bytes": 0} for i in (0, 2)]
    for i in range(len(kinds)):
        batches.append({"op": i, "span": 0, "batch": 0, "end_ms": 50.0, "input_rows": i,
                        "trigger_ms": 30 + i, "add_batch_ms": 10, "query_planning_ms": 1,
                        "wal_commit_ms": 1, "commit_offsets_ms": 1, "latest_offset_ms": 1,
                        "state_rows": 5, "state_memory_bytes": 100, "state_commit_ms": 1,
                        "late_rows_dropped": 0})
    plans = [{"span": 2, "scan_ms": 3, "files_read": 4, "sort_ms": 0, "agg_build_ms": 1,
              "spill_bytes": 0, "smj_joins": 0, "bhj_joins": 1, "shuffle_write_bytes": 10,
              "broadcast_builds": 1, "broadcast_build_ms": 2, "broadcast_bytes": 50}]
    summary = {"created_bytes": 100, "upserted_once_bytes": 50, "store_bytes": 80,
               "live_once_bytes": 40}
    return fake_result(workload, ops, spans=spans, jobs=jobs, stages=stages, plans=plans,
                       batches=batches if workload == "stream_ingest" else [],
                       summary=summary)


class MetricNames(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_every_printed_metric_is_declared_with_its_unit(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for wl in gen.WORKLOADS:
            r = _fake_traced(wl)
            e2e = metrics.end_to_end(r)
            self.assertEqual(set(e2e), set(declared), wl)
            for name, (_v, unit) in e2e.items():
                self.assertEqual(unit, declared[name], name)
            pl = metrics.per_layer(r, cores=4)
            self.assertEqual(set(pl), set(layer), wl)
            for name, (_v, unit) in pl.items():
                self.assertEqual(unit, layer[name], name)

    def test_reached_layers_are_measured_and_unreached_read_zero(self):
        for wl in gen.WORKLOADS:
            pl = metrics.per_layer(_fake_traced(wl), cores=4)
            skipped = set(metrics.not_reached(wl))
            for name, (v, _unit) in pl.items():
                if name in skipped:
                    self.assertEqual(v, 0.0, (wl, name))
                else:
                    self.assertIsNotNone(v, (wl, name))
                    self.assertTrue(math.isfinite(v), (wl, name))

    def test_a_reached_metric_without_samples_is_none_not_zero(self):
        r = _fake_traced("online_serving")
        for o in r["ops"]:
            o["extra"] = dict(o["extra"], folded=False)
        pl = metrics.per_layer(r, cores=4)
        self.assertIsNone(pl["sources.fold_upsert_ms"][0])
        self.assertEqual(pl["sources.folds"][0], 0)

    def test_every_declared_workload_is_runnable(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(gen.WORKLOADS))

    def test_every_per_layer_metric_names_its_layer_workloads_and_target(self):
        self.assertEqual([m["name"] for m in self.bench["per_layer"]], list(metrics.LAYERS))
        for name, entry in metrics.LAYERS.items():
            self.assertTrue(entry["layer"], name)
            self.assertTrue(entry["moves"], name)
            self.assertTrue(set(entry["workloads"]) <= set(gen.WORKLOADS), name)
            self.assertTrue(entry["workloads"], name)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_fingerprint(self):
        for wl in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                fa = gen.generate(wl, 7, a)
                fb = gen.generate(wl, 7, b)
                self.assertEqual(fa, fb, wl)
                with open(os.path.join(a, "plan.json")) as x, \
                        open(os.path.join(b, "plan.json")) as y:
                    self.assertEqual(x.read(), y.read(), wl)

    def test_other_seed_other_fingerprint(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen.generate("stream_ingest", 1, a),
                                gen.generate("stream_ingest", 2, b))


if __name__ == "__main__":
    unittest.main()
