#!/usr/bin/env python3
"""Benchmark of graft's offline snapshot build and append path.

Usage (from the root of a checkout):

    python3 snapbench/run.py --workload bulk_build --seed 1 --seconds 36 --trace 0

Builds the library from the checkout's sources (an sbt build of its own
under snapbench/, reused while the sources are unchanged), runs one
workload in one local[2] JVM, checks its outputs and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
YOUNG = "1g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compiles library + driver; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no library sources at {os.path.join(ROOT, 'src', 'main', 'scala')}: "
                 "run from the root of a full checkout")
    stamp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out_file = os.path.join(HERE, "target", "export-classpath.txt")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("[snapbench] building (sbt compile) ...")
    with open(out_file, "w") as out:
        rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true",
                       f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                      stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_file) as f:
        lines = f.read().splitlines()
    if rc != 0:
        log("\n".join(lines[-40:]))
        sys.exit(f"build failed (sbt exit {rc})")
    cp = [l for l in lines if l.startswith("/") and os.pathsep in l][-1]
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a TERM unwinds like an error, so run_proc kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "record.json")
    # a pre-touched heap on huge pages keeps page faults and TLB misses
    # out of the timed ops; with a fixed young generation G1 does not resize
    # it between ops, and young collections (their cost is the live set,
    # not the size) are rare
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch",
            "-XX:+UseG1GC", "-XX:+UseTransparentHugePages",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "snapbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work, result])
    with open(os.path.join(work, "driver.log"), "w") as logf:
        rc = run_proc(cmd, RUN_TIMEOUT_S, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "driver.log")) as f:
            log(f.read()[-4000:])
        sys.exit(f"driver exited with {rc}")
    with open(result) as f:
        record = json.load(f)

    attempted, failed = metrics.accounting(record)
    for o in record["ops"]:
        if o["error"]:
            log(f"[failed op] {o['kind']}: {o['error']}")
    bad_checks = [c for c in record["checks"] if not c["ok"]]
    for c in bad_checks:
        log(f"[failed check] {c['name']}: {c['detail']}")
    env = dict(record["env"], setup_samples_s=record["setup_s"])
    print("env " + json.dumps(env, sort_keys=True))

    if a.trace:
        vals = metrics.per_layer(a.workload, record, attempted, failed)
    else:
        vals = {k: (v, metrics.END_TO_END[k])
                for k, v in metrics.end_to_end(a.workload, record).items()}
    out = {
        "correct": failed == 0 and not bad_checks,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in vals.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
