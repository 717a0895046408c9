#!/usr/bin/env python3
"""ETL benchmark: one run of one workload.

    python3 perfbench/run.py --workload daily_ticks --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run is a fresh JVM under
`.bench_build/run`, removed afterwards. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}; the line
before it gives attempted and failed counts per operation kind.
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
WORKLOADS = ("daily_ticks", "stream_cascade")
E2E_UNITS = {
    "setup_s": "s", "tick_s": "s", "idle_tick_s": "s", "point_read_ms": "ms",
    "scan_read_s": "s", "cpu_s": "s", "write_mb_per_tick": "MB",
    "space_amp": "ratio", "peak_rss_mb": "MB",
}
# the JVM flags build.sbt gives the program's forked JVMs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Digest of every file the build reads, so an edited program rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile program and harness; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("perfbench: building program and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# One fixed heap on every machine, so that peak RSS follows the program
# and not the host. build.sbt's default (16g) is more than the memory of
# the 16 GB machine the benchmark is measured on, and -Xms cannot commit
# it there; every workload runs in 4g.
HEAP = "4g"


def run_jvm(cp, args, run_dir):
    # the heap is fixed from the start (-Xms = -Xmx) so that peak RSS does
    # not depend on when the collector chose to grow it
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def key_checks(result):
    """The key sets of four tables against keys recomputed in DuckDB from
    the source parquet, following the reference SQL's grain rules; voided
    rows and voided persons are excluded everywhere."""
    import keys
    return keys.check(result["src_dir"], result["live_files"], result["asof"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="break one output row before the checks (tests the checks)")
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit("perfbench: %s not found; run from the repository root" % need)
    out = os.path.join(root, ".bench_build")
    cp = build(root, out)

    run_dir = os.path.join(out, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir]
        if a.inject_fault:
            args.append("fault")
        code = run_jvm(cp, args, run_dir)
        result_file = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_file):
            raise SystemExit("perfbench: benchmark JVM exited with %d" % code)
        with open(result_file) as f:
            result = json.load(f)
        problems = list(result["problems"]) + key_checks(result)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for kind, o in result["ops"].items():
        if o["first_error"]:
            log("perfbench: first %s error: %s" % (kind, o["first_error"]))
    for p in problems:
        log("perfbench: CHECK FAILED: " + p)
    print("ops: " + json.dumps({k: {"attempted": o["attempted"], "failed": o["failed"]}
                                for k, o in result["ops"].items()}))
    print("rounds: %d in %.1f s" % (result["rounds"], result["loop_s"]))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["trace"].items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in E2E_UNITS.items()}
    attempted = sum(o["attempted"] for o in result["ops"].values())
    failed = sum(o["failed"] for o in result["ops"].values())
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name):
    last = name.rsplit(".", 2)
    metric = last[1] if len(last) == 3 and last[2][:1].isupper() else last[-1]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if metric.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
