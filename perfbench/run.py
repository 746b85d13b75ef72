#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark
from source (once per source state; the build is cached under
.bench_build/), generates the workload's inputs from the seed, runs one
JVM at local[nproc] that drives the engine through its public entry
points, checks the outputs, prints one line per metric by name and unit,
and prints as its last line a JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 1 it reports per-layer metrics
instead of end-to-end ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 160
# a fixed heap, so heap sizing does not vary between runs
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.monotonic()


def note(msg):
    print(f"[perfbench] {time.monotonic() - T0:7.1f}s {msg}", file=sys.stderr)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to reuse a cached build."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env,
            timeout=840).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cp:
        fail(f"build failed (see {log})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(classpath, work, args):
    """Run the benchmark's JVM; its log goes to <work>/jvm.log."""
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", classpath, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    note("build ready")
    wl = workloads.WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_build", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = str(len(os.sched_getaffinity(0)))

    # set-up, part 1: generate and stage the inputs, three times; the
    # median counts (the last copy is the one used)
    gen_s = []
    for _ in range(3):
        t0 = time.monotonic()
        manifest = wl.generate(a.seed, a.seconds, a.trace == 1, work)
        gen_s.append(time.monotonic() - t0)
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    note(f"inputs staged, generation median {statistics.median(gen_s):.2f}s")
    # set-up, part 2: JVM start, session, warm-up, up to the first timed call
    launch_ms = time.time() * 1000
    steal0, total0 = cpu_ticks()
    raw = run_jvm(classpath, work, [
        "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cpus", cpus])
    steal1, total1 = cpu_ticks()
    note(f"JVM done; CPU time stolen by the host: "
         f"{(steal1 - steal0) / max(1, total1 - total0):.1%}")
    setup_s = statistics.median(gen_s) + (raw["first_timed_ms"] - launch_ms) / 1000

    res = wl.evaluate(raw, manifest, work, a.trace == 1)
    res.end_to_end["setup_s"] = (setup_s, "s")
    note("checks done")
    attempted = res.ops + len(res.checks)
    failed = res.failed_ops + sum(1 for c in res.checks if c[1])
    for name, fails in res.checks:
        status = "ok" if not fails else "FAILED: " + "; ".join(fails)
        print(f"check {name}: {status}")
    for line in res.lines:
        print(line)
    print(f"failed_ops_share {failed / attempted:.6f} share (failed {failed} of {attempted})")
    if a.trace:
        out = {k: {"value": v, "unit": u} for k, (v, u) in res.per_layer.items()}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"per_layer": out, "spans": raw.get("spans", [])}, f, indent=1)
    else:
        missing = [k for k, (v, _) in res.end_to_end.items() if v is None]
        if missing:
            fail(f"no value for {', '.join(missing)} (too few samples)")
        out = {k: {"value": v, "unit": u} for k, (v, u) in res.end_to_end.items()}
    for k, v in out.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
