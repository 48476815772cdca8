#!/usr/bin/env python3
"""graft feature-store benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload online_serving --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the driver (perfbench/jvm)
and the root project with sbt; later runs reuse the build while no source
changes. Inputs are generated from the seed, the workload runs for the given
seconds in a closed loop with one client, every output is checked, and the
last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end set; with --trace 1 they are the
per-layer set from a traced run (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import build, checks, gen, metrics  # noqa: E402

# Environment knobs that change the code path being measured.
PINNED_PREFIXES = ("SPARK_GRAFT_", "GRAFT_")
DEADLINE_S = 170  # the whole command, build excluded
BUILD_TIMEOUT_S = 840
DRIVER_XMX = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pinned_knobs(env):
    return sorted(k for k in env if k.startswith(PINNED_PREFIXES))


def cores():
    return len(os.sched_getaffinity(0))


def host_fingerprint(result):
    mem = "?"
    try:
        with open("/proc/meminfo") as f:
            mem = next(l.split()[1] for l in f if l.startswith("MemTotal:")) + "kB"
    except (OSError, StopIteration):
        pass
    h = result["host"]
    desc = {"nproc": cores(), "mem_total": mem, "jvm": h["jvm"], "spark": h["spark"],
            "xmx_mb": h["xmx_mb"], "machine": platform.machine()}
    digest = hashlib.sha256(json.dumps(desc, sort_keys=True).encode()).hexdigest()[:16]
    return digest, desc


def cpu_ticks():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor gave
    to other guests while this one wanted to run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def host_probe_ms():
    """Median time of a fixed single-threaded hashing task: a host-speed
    reading beside the run, since neighbours on a shared host can slow it
    without showing as steal."""
    block = bytes(64 << 20)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        hashlib.sha256(block).digest()
        times.append((time.perf_counter() - t) * 1000.0)
    return sorted(times)[1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    cand = os.path.join(home, "bin", "java") if home else None
    return cand if cand and os.path.exists(cand) else "java"


def run_driver(cp, args, run_dir, inp, out, timeout_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), f"-Xmx{DRIVER_XMX}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--in", inp,
            "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores())]
    log_path = os.path.join(run_dir, "driver.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver exceeded {timeout_s:.0f} s; log: {log_path}", 3)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"driver exited with {proc.returncode}; log: {log_path}", 3)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main(argv):
    args = parse_args(argv)
    knobs = pinned_knobs(os.environ)
    if knobs:
        fail("refusing to run with code-path knobs set: " + ", ".join(knobs)
             + " (unset them; each changes what is measured)")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    build_dir = os.path.join(ROOT, ".bench_build")
    try:
        cp = build.ensure_built(ROOT, build_dir, BUILD_TIMEOUT_S)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        fail(str(e), 4)
    t_start = time.time()

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    input_fp = gen.generate(args.workload, args.seed, inp)
    t_gen = time.time()
    os.makedirs(os.path.join(out, "check"), exist_ok=True)

    probe_ms = host_probe_ms()
    steal0, total0 = cpu_ticks()
    result = run_driver(cp, args, run_dir, inp, out,
                        DEADLINE_S - (time.time() - t_start))
    steal1, total1 = cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    t_driver = time.time()
    oracle_failures = checks.run_pending(result["pending_checks"], inp)
    for b in result["batches"]:
        # a late-dropped row is a row missing from the final store
        if b["late_rows_dropped"] and b["op"] >= 0:
            oracle_failures.setdefault(b["op"], f"{b['late_rows_dropped']} rows dropped as late")
    sys.stderr.write(f"perfbench: gen {t_gen - t_start:.1f} s, driver {t_driver - t_gen:.1f} s, "
                     f"oracles {time.time() - t_driver:.1f} s\n")
    for o in result["ops"]:
        if o["ok"] and o["index"] in oracle_failures:
            o["ok"] = False
            o["error"] = "wrong output: " + oracle_failures[o["index"]]

    host_fp, host = host_fingerprint(result)
    attempted, failed, _ = metrics.accounting(result["ops"])
    correct = failed == 0 and not result["global_failures"] and attempted > 0
    for o in result["ops"]:
        if not o["ok"]:
            sys.stderr.write(f"perfbench: op {o['index']} ({o['kind']}) failed: {o['error']}\n")
    for g in result["global_failures"]:
        sys.stderr.write(f"perfbench: {g}\n")

    if args.trace:
        chosen = metrics.per_layer(result, cores())
    else:
        chosen = metrics.end_to_end(result)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"input_fingerprint={input_fp} host_fingerprint={host_fp} host={json.dumps(host)}")
    print("# setup " + json.dumps(result["setup"]) + f" wall_s={metrics.wall_seconds(result):.3f}"
          f" cpu_steal_pct={steal_pct:.1f} host_probe_ms={probe_ms:.1f}")
    detail = {k: {"value": v, "unit": u} for k, (v, u) in metrics.workload_metrics(result).items()}
    print("# workload_metrics " + json.dumps(detail))
    if args.trace:
        print("# per_layer_not_reached " + json.dumps(metrics.not_reached(args.workload)))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        # a traced metric of a reached layer can lack samples: it prints as null
        "metrics": {k: {"value": v if v is not None and math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in chosen.items()},
    }))
    sys.stdout.flush()
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
