"""Build the benchmark driver (and the root project it depends on) with sbt,
and cache its runtime classpath under ``.bench_build``.

The build is skipped when a stamp over every source and build file still
matches, so only the first run in a checkout pays for compilation.
"""
import hashlib
import os
import subprocess
import sys

BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties",
                "perfbench/jvm/src")


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, build_dir, timeout_s):
    """Return the driver's classpath, compiling first when sources changed."""
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            old, cp = f.read().strip(), g.read().strip()
        if old == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "jvm"), env=env,
            stdout=subprocess.PIPE, stderr=log, text=True, timeout=timeout_s)
        log.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or ".jar" not in cp or \
            not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"driver build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp
