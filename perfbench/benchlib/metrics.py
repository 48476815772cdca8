"""Turn one driver record (``result.json``) into the benchmark's metrics.

Conventions:
- a timing is reported as its median, plus the highest percentile that
  still has at least ten samples beyond it (:func:`tail_percentile`);
- a failed operation counts as an infinitely slow sample in every latency
  percentile and adds nothing to any rate's numerator;
- per-layer counts are means per traced operation unless named a ratio, a
  gauge or a run total; per-layer times are medians (see layers.json).
"""
import json
import math
import os
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# the client operation whose latency is each workload's latency metric
PRIMARY_KIND = {
    "online_serving": ("lookup",),
    "stream_ingest": ("window", "session", "outer_join"),
}


def _rank(p, n):
    """Nearest rank of percentile p in n samples (1-based); the epsilon keeps
    p * n / 100 from rounding up past an exact integer."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(xs):
    """(p, value) for the highest p in TAIL_LADDER with >= 10 samples beyond
    its rank, or None when the sample is too small for any of them."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p, percentile(xs, p)
    return None


def median(xs, default=None):
    return statistics.median(xs) if xs else default


def mean(xs, default=None):
    return sum(xs) / len(xs) if xs else default


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def latency_samples(ops, kinds):
    """Latencies (ms) of the given kinds; failures count as infinite."""
    return [(o["end_ms"] - o["start_ms"]) if o["ok"] else math.inf
            for o in ops if o["kind"] in kinds]


def rate(ops, wall_s, units=lambda o: o["units"]):
    """Work per second; failed operations add nothing to the numerator."""
    return sum(units(o) for o in ops if o["ok"]) / wall_s if wall_s > 0 else 0.0


def accounting(ops):
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)


def finite_median(xs):
    """Median with infinities kept (a majority of failures makes it inf)."""
    return statistics.median(xs) if xs else math.inf


def setup_seconds(result):
    s = result["setup"]
    return s["session_s"] + s["warmup_s"] + statistics.median(s["load_s"])


def wall_seconds(result):
    return (result["phase"]["end_ms"] - result["phase"]["start_ms"]) / 1000.0


def stream_batches(result, op_ok):
    return [b for b in result.get("batches", []) if b["op"] in op_ok]


def primary_latencies(result, ops):
    """The samples behind a workload's request latency for the given
    operations: lookup latencies (``online_serving``) or micro-batch durations
    (``stream_ingest``); a failed operation adds one infinite sample."""
    if result["workload"] != "stream_ingest":
        return latency_samples(ops, PRIMARY_KIND[result["workload"]])
    ok = {o["index"]: o["ok"] for o in ops}
    return [b["trigger_ms"] if ok[b["op"]] else math.inf
            for b in stream_batches(result, ok)] + [math.inf for o in ops if not o["ok"]]


def end_to_end(result):
    """The metrics every run prints (the benchmark's gated set)."""
    return {
        "setup_s": (setup_seconds(result), "s"),
        "heap_live_mb": (result["heap"]["end_mb"], "MB"),
    }


def workload_metrics(result):
    """The workload's own named latency and throughput figures, printed
    beside the gated set. Tail percentiles are reported only when the sample
    supports them."""
    wl = result["workload"]
    ops = result["ops"]
    wall = wall_seconds(result)
    out = {}

    def lat(name, xs, unit="ms", scale=1.0, p90=False):
        out[f"{name}_p50_{unit}"] = (finite_median(xs) * scale, unit)
        t = tail_percentile(xs)
        if p90:
            v = percentile(xs, 90) * scale if t and t[0] >= 90 else None
            out[f"{name}_p90_{unit}"] = (v, unit)
        out[f"{name}_samples"] = (len(xs), "count")
        if t:
            out[f"{name}_tail"] = ({"p": t[0], "value": t[1] * scale}, unit)

    out["heap_gc_peak_mb"] = (result["heap"]["gc_peak_mb"], "MB")
    if wl == "online_serving":
        out["ops_per_s"] = (rate(ops, wall, units=lambda o: 1), "1/s")
        lat("lookup", latency_samples(ops, ("lookup",)), p90=True)
        lat("upsert", latency_samples(ops, ("upsert",)), p90=True)
        s = result["summary"]
        out["write_amp"] = (s["created_bytes"] / s["upserted_once_bytes"]
                            if s.get("upserted_once_bytes") else None, "ratio")
        out["space_amp"] = (s["store_bytes"] / s["live_once_bytes"]
                            if s.get("live_once_bytes") else None, "ratio")
    elif wl == "stream_ingest":
        out["stream_events_per_s"] = (rate(ops, wall), "events/s")
        ok = {o["index"]: o["ok"] for o in ops}
        lat("stream_batch", [b["trigger_ms"] for b in stream_batches(result, ok) if ok[b["op"]]])
    return out


# ---------------------------------------------------------------- per layer

# name -> {"unit", "layer", "workloads", "moves"}: every per-layer metric, the
# workloads whose operations call into its layer, and the end-to-end metric
# it should move on each
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "layers.json")) as _f:
    LAYERS = json.load(_f)

PLAN_KEYS = ("scan_ms", "files_read", "sort_ms", "agg_build_ms", "spill_bytes", "smj_joins",
             "bhj_joins", "shuffle_write_bytes", "broadcast_builds", "broadcast_build_ms",
             "broadcast_bytes")
STREAM_KINDS = PRIMARY_KIND["stream_ingest"]


def not_reached(workload):
    """Per-layer metrics of layers the workload's operations never call: the
    trace observes every operation and finds no work there, so they read 0."""
    return sorted(n for n, d in LAYERS.items() if workload not in d["workloads"])


class _Trace:
    """Index of one traced run: spans, jobs, stages and plans by operation."""

    def __init__(self, result):
        self.spans = result.get("spans", [])
        self.by_id = {s["id"]: s for s in self.spans}
        self.op_spans = {}
        for s in self.spans:
            self.op_spans.setdefault(s["op"], []).append(s)
        self.jobs_by_op = {}
        for j in result.get("jobs", []):
            s = self.by_id.get(j["span"])
            if s is not None:
                self.jobs_by_op.setdefault(s["op"], []).append(j)
        self.stages = {st["id"]: st for st in result.get("stages", [])}
        self.plans_by_op = {}
        for p in result.get("plans", []):
            s = self.by_id.get(p["span"])
            if s is not None:
                self.plans_by_op.setdefault(s["op"], []).append(p)

    def named(self, op, name):
        return [s for s in self.op_spans.get(op, []) if s["name"] == name]

    def dur(self, op, *names):
        return sum(s["end_ms"] - s["start_ms"] for n in names for s in self.named(op, n))

    def root(self, op):
        roots = [s for s in self.op_spans.get(op, []) if s["parent"] == 0]
        return roots[0] if roots else None

    def jobs(self, op):
        return self.jobs_by_op.get(op, [])

    def job_intervals(self, op):
        return [(j["start_ms"], j["end_ms"]) for j in self.jobs(op)
                if j["end_ms"] is not None]

    def stages_of(self, op):
        return [self.stages[s] for j in self.jobs(op) for s in j["stages"] if s in self.stages]

    def plan_sum(self, op, key):
        return sum(p[key] for p in self.plans_by_op.get(op, []))


def _op_wall(o):
    return o["end_ms"] - o["start_ms"]


def _store(m, t, traced):
    lk = [o for o in traced if o["kind"] == "lookup"]
    m["store.online_features_for.ms"] = median(
        [t.dur(o["index"], "store.onlineFeaturesFor", "action.collect") for o in lk])
    m["store.online_features_for.jobs"] = mean([len(t.jobs(o["index"])) for o in lk])
    m["store.online_features_for.files_read_ratio"] = median(
        [t.plan_sum(o["index"], "files_read") / o["extra"]["store_files"]
         for o in lk if o["extra"].get("store_files")])


def _sources(m, t, traced, ops):
    up = [o for o in traced if o["kind"] == "upsert"]
    m["sources.upsert.ms"] = median([t.dur(o["index"], "sources.upsert") for o in up])
    m["sources.upsert.jobs"] = mean([len(t.jobs(o["index"])) for o in up])
    # store bookkeeping is recorded after every operation, traced or not
    ok = [o for o in ops if o["ok"] and "generations" in o["extra"]]
    ups = [o for o in ok if o["kind"] == "upsert"]
    m["sources.upsert.bytes_written"] = mean([o["extra"]["created_bytes"] for o in ups])
    m["sources.upsert.files_written"] = mean([o["extra"]["files_created"] for o in ups])
    m["sources.generations"] = median([o["extra"]["generations"] for o in ok])
    m["sources.store_files"] = median([o["extra"]["store_files"] for o in ok])
    folds = [_op_wall(o) for o in ups if o["extra"]["folded"]]
    m["sources.folds"] = len(folds)
    m["sources.fold_upsert_ms"] = median(folds)


def _contract(m, t, traced):
    m["contract.json_roundtrip_ms"] = median(
        [t.dur(o["index"], "contract.ContractJson.roundTrip") for o in traced
         if t.named(o["index"], "contract.ContractJson.roundTrip")])


def _streaming(m, result, traced, ops):
    st = [o for o in traced if o["kind"] in STREAM_KINDS]
    idx = {o["index"] for o in st}
    batches = [b for b in result.get("batches", []) if b["op"] in idx]
    m["streaming.run_ms"] = median([_op_wall(o) for o in st])
    m["streaming.batches"] = len(batches) / len(st) if st else None
    m["streaming.empty_batch_ratio"] = \
        sum(1 for b in batches if b["input_rows"] == 0) / len(batches) if batches else None
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
              "latest_offset_ms", "state_commit_ms", "state_rows", "state_memory_bytes"):
        m["streaming." + k] = median([b[k] for b in batches])
    m["streaming.outside_batches_ms"] = median(
        [_op_wall(o) - sum(b["trigger_ms"] for b in batches if b["op"] == o["index"])
         for o in st])
    # the canary counts every timed operation's batches, failed ones too: a
    # late-dropped row fails its operation, and must still show here
    timed = {o["index"] for o in ops}
    m["streaming.late_rows_dropped"] = sum(
        b["late_rows_dropped"] for b in result.get("batches", []) if b["op"] in timed)


def _spark(m, t, traced, cores):
    per = []
    for o in traced:
        stg = t.stages_of(o["index"])
        per.append({
            "jobs": len(t.jobs(o["index"])), "stages": len(stg),
            "tasks": sum(s["tasks"] for s in stg),
            "empty": sum(s["empty_tasks"] for s in stg),
            "run": sum(s["run_ms"] for s in stg), "cpu": sum(s["cpu_ms"] for s in stg),
            "gc": sum(s["gc_ms"] for s in stg), "wait": sum(s["wait_ms"] for s in stg),
            "sr": sum(s["shuffle_read_bytes"] for s in stg),
            "sw": sum(s["shuffle_write_bytes"] for s in stg),
            "spill": sum(s["spill_disk_bytes"] for s in stg),
            "wall": _op_wall(o),
            "driver_only": self_time((o["start_ms"], o["end_ms"]), t.job_intervals(o["index"])),
        })
    for k, name in (("jobs", "spark.jobs"), ("stages", "spark.stages"),
                    ("tasks", "spark.tasks"), ("run", "spark.executor_run_ms"),
                    ("cpu", "spark.executor_cpu_ms"), ("gc", "spark.gc_ms"),
                    ("wait", "spark.task_wait_ms"), ("sr", "spark.shuffle_read_bytes"),
                    ("sw", "spark.shuffle_write_bytes"), ("spill", "spark.spill_disk_bytes"),
                    ("driver_only", "spark.driver_only_ms")):
        m[name] = mean([p[k] for p in per])
    tasks = sum(p["tasks"] for p in per)
    m["spark.empty_task_ratio"] = sum(p["empty"] for p in per) / tasks if tasks else None
    wall = sum(p["wall"] for p in per)
    m["spark.core_busy_ratio"] = sum(p["run"] for p in per) / (wall * cores) if wall else None


def _trace(m, result, t, traced, ops):
    cov, selfs = [], []
    for o in traced:
        root = t.root(o["index"])
        if root is None:
            continue
        kids = [(s["start_ms"], s["end_ms"]) for s in t.op_spans[o["index"]]
                if s["parent"] == root["id"]]
        span = (root["start_ms"], root["end_ms"])
        wall = span[1] - span[0]
        selfs.append(self_time(span, kids))
        cov.append(1.0 - selfs[-1] / wall if wall > 0 else 0.0)
    m["trace.span_coverage"] = median(cov)
    m["trace.op_self_ms"] = median(selfs)
    m["trace.traced_ops"] = len(traced)
    on = primary_latencies(result, [o for o in ops if o["ok"] and o["traced"]])
    off = primary_latencies(result, [o for o in ops if o["ok"] and not o["traced"]])
    m["trace.overhead_ratio"] = median(on) / median(off) - 1.0 if on and off else None


def per_layer(result, cores):
    """Every per-layer metric of a traced run. A metric of a layer the
    workload never calls reads 0 (see :func:`not_reached`); a metric of a
    layer it does call but with no sample in this run reads None."""
    ops = result["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    t = _Trace(result)
    m = {}
    _store(m, t, traced)
    _sources(m, t, traced, ops)
    _contract(m, t, traced)
    _streaming(m, result, traced, ops)
    # graft.ops, through the plans the calls produced
    for k in PLAN_KEYS:
        m["ops." + k] = mean([t.plan_sum(o["index"], k) for o in traced])
    _spark(m, t, traced, cores)
    _trace(m, result, t, traced, ops)
    wl = result["workload"]
    return {n: (m[n] if wl in d["workloads"] else 0.0, d["unit"]) for n, d in LAYERS.items()}
