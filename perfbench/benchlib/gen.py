"""Seeded input generation for the workloads.

Every table is built from ``random.Random(f"{workload}:{seed}")`` alone, so a
seed names one exact input set. The generated rows are hashed into an input
fingerprint before they are written; two runs are only comparable when their
fingerprints (and host fingerprints) match.

The event rows follow the repository's ``events`` test table (event_id, ts,
user_id, event_type, value), with timestamps stored as epoch microseconds
(``ts_us``) so that Spark and DuckDB read the same instant.
"""
import bisect
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("online_serving", "stream_ingest")

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Sizes. Operation costs here are dominated by per-query and per-batch
# overhead, not data volume.
ONLINE_KEYS = 20000
ONLINE_OPS = 600
ONLINE_STRATA = 4
# more small upserts than the driver's warm-up can need to bring the store
# just under its fold threshold (the library default, 32 generations)
ONLINE_PREFILL = 40

STREAM_RUNS = 24
STREAM_USERS = 150
# each run's event count varies by a few percent only: a staged run's time is
# mostly per-batch overhead, so events/s moves with the event count
STREAM_MIN_EVENTS, STREAM_MAX_EVENTS = 1950, 2050
STREAM_CHUNKS = 3  # the staged gates' default
STREAM_KINDS = ("window", "session", "outer_join")


class Fingerprint:
    """SHA-256 over a canonical rendering of every generated row."""

    def __init__(self):
        self._h = hashlib.sha256()

    def add(self, name, rows):
        self._h.update(name.encode())
        for r in rows:
            self._h.update(repr(r).encode())
            self._h.update(b"\n")

    def hexdigest(self):
        return self._h.hexdigest()[:16]


def _rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def _log_uniform(rng, lo, hi, u=None):
    u = rng.random() if u is None else u
    return int(round(math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))))


def _zipf_sampler(rng, n, s=1.1):
    """Return a function drawing ranks 0..n-1 with P(r) ~ 1/(r+1)^s."""
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)

    def draw():
        return min(bisect.bisect_left(cum, rng.random()), n - 1)

    return draw


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def _events(rng, n, users, start_us, span_us, types, first_id=0):
    """Random events; values carry two decimals, timestamps are distinct."""
    ts = sorted(rng.sample(range(start_us, start_us + span_us), n))
    rows = []
    for i, t in enumerate(ts):
        rows.append((first_id + i, t, rng.randrange(users), rng.choice(types),
                     round(rng.uniform(0.5, 200.0), 2)))
    return rows


def _event_columns(rows, extra=None):
    cols = {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts_us": pa.array([r[1] for r in rows], pa.int64()),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
    }
    if extra:
        cols.update(extra)
    return cols


def gen_online(rng, out, fp):
    base_ts = EPOCH_2024_US
    bulk = [(k, base_ts, round(rng.uniform(1, 500), 2), rng.choice("ABCD"))
            for k in range(ONLINE_KEYS)]
    fp.add("bulk", bulk)
    _write(os.path.join(out, "bulk.parquet"), {
        "item_id": pa.array([b[0] for b in bulk], pa.int64()),
        "ts_us": pa.array([b[1] for b in bulk], pa.int64()),
        "price": pa.array([b[2] for b in bulk], pa.float64()),
        "status": pa.array([b[3] for b in bulk], pa.string()),
    })

    # keys are Zipf-skewed over a seeded permutation, and half of all key
    # draws favour the most recently written keys
    perm = list(range(ONLINE_KEYS))
    rng.shuffle(perm)
    zipf = _zipf_sampler(rng, ONLINE_KEYS)
    recent = []

    def key():
        if recent and rng.random() < 0.5:
            return recent[-1 - min(int(rng.expovariate(1 / 20)), len(recent) - 1)]
        return perm[zipf()]

    def upsert_rows(n, ts):
        keys = sorted({key() for _ in range(n)})
        recent.extend(keys)
        del recent[:-500]
        return [[k, ts, round(rng.uniform(1, 500), 2), rng.choice("ABCD")] for k in keys]

    # small upserts the warm-up appends to bring the store near a fold
    prefill = [{"rows": upsert_rows(_log_uniform(rng, 1, 50), base_ts + j + 1)}
               for j in range(ONLINE_PREFILL)]

    # a fixed interleaving (every third operation is an upsert, every fifth
    # lookup is wide) with seeded contents; lookup sizes are log-uniform,
    # stratified in cycles of ONLINE_STRATA, so a short run sees the same mix
    ops = []
    n_lookups = 0
    strata = []
    for i in range(ONLINE_OPS):
        if i % 3 == 1:
            rows = upsert_rows(_log_uniform(rng, 1, 50), base_ts + (i + 1) * 1000)
            ops.append({"kind": "upsert", "rows": rows})
            continue
        n_lookups += 1
        if n_lookups % 5 == 3:
            n = rng.randint(1025, 1500)
        else:
            if not strata:
                strata = list(range(ONLINE_STRATA))
                rng.shuffle(strata)
            n = _log_uniform(rng, 1, 64, (strata.pop() + rng.random()) / ONLINE_STRATA)
        keys = set()
        while len(keys) < n:
            # ~3% of probed keys are absent from the store
            keys.add(ONLINE_KEYS + rng.randrange(10 * ONLINE_KEYS)
                     if rng.random() < 0.03 else key())
        ops.append({"kind": "lookup", "keys": sorted(keys)})
    fp.add("prefill", [json.dumps(o, sort_keys=True) for o in prefill])
    fp.add("ops", [json.dumps(o, sort_keys=True) for o in ops])
    return {"prefill": prefill, "ops": ops}


def gen_stream(rng, out, fp):
    rows, runs = [], []
    next_id = 0
    for r in range(STREAM_RUNS):
        n = rng.randint(STREAM_MIN_EVENTS, STREAM_MAX_EVENTS)
        start = EPOCH_2024_US + rng.randrange(20) * DAY_US
        ev = _events(rng, n, STREAM_USERS, start, 2 * DAY_US,
                     ("click", "view", "purchase", "error"), first_id=next_id)
        next_id += n
        rows.extend((r,) + e for e in ev)
        runs.append({"run": r, "kind": STREAM_KINDS[r % len(STREAM_KINDS)],
                     "events": n, "chunks": STREAM_CHUNKS})
    fp.add("events", rows)
    fp.add("runs", [json.dumps(x, sort_keys=True) for x in runs])
    _write(os.path.join(out, "events.parquet"), _event_columns(
        [e[1:] for e in rows], {"run_id": pa.array([e[0] for e in rows], pa.int32())}))
    return {"runs": runs}


GENERATORS = {
    "online_serving": gen_online,
    "stream_ingest": gen_stream,
}


def generate(workload, seed, out):
    """Write the workload's inputs and plan under ``out``; return the
    input fingerprint."""
    os.makedirs(out, exist_ok=True)
    fp = Fingerprint()
    plan = GENERATORS[workload](_rng(workload, seed), out, fp)
    plan["workload"] = workload
    plan["seed"] = seed
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return fp.hexdigest()
