#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload rebuild|trickle \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (perfbench/build.py), runs
the workload in one JVM and one Spark session, and prints the result object
as the last line of standard output. Everything the run writes stays under
`.bench_build/` in the checkout; the JVM is always waited for.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark directory as checked out
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("rebuild", "trickle")
# a run (build excluded) ends within 180 s, or is stopped
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "mini"), default="full",
                   help="mini: a 2,000-track rebuild, for the benchmark's own tests")
    return p.parse_args(argv)


def driver_mem():
    """The JVM heap the program's own build and test setup give the driver:
    SPARK_DRIVER_MEM if set, otherwise half the host's memory, 2g to 8g
    (build.sbt's default is 8g)."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 ** 30
    return "%dg" % min(8, max(2, gib // 2))


def java_command(classes, root, main, main_args):
    """The JVM invocation for `main` with the program's own JVM options."""
    bdir = os.path.join(root, build.BUILD_DIR)
    cp = classes + os.pathsep + os.path.join(build.jars_dir(), "*")
    opens = [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
    return (["java", "-Xmx" + driver_mem(), "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(bdir, "tmp"),
             "-Dspark.sql.warehouse.dir=" + os.path.join(bdir, "warehouse"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + main_args)


def java_env(root):
    """Spark scratch space inside the checkout."""
    bdir = os.path.join(root, build.BUILD_DIR)
    for d in ("tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(bdir, "spark-local"),
                SPARK_SCALA_VERSION="2.13", SPARK_HOME=build.spark_home())


def check_result(line):
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys %s" % sorted(r))
    if not isinstance(r["attempted"], int) or r["attempted"] < 1:
        raise ValueError("attempted must be a positive integer")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s: %s" % (name, m))
    return r


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv):
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    bdir = os.path.join(root, build.BUILD_DIR)
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        return 2
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(bdir, "work", "%s-%d" % (tag, os.getpid()))
    spans = os.path.join(bdir, "traces", tag + ".jsonl")
    env = java_env(root)
    log_path = os.path.join(bdir, "logs", tag + ".log")
    with open(log_path, "w") as log:
        cmd = java_command(classes, root, "perfbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--spans", spans, "--scale", args.scale,
            "--golden", os.path.join(build.BENCH_DIR, "golden.json")])
        proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("[perfbench] run exceeded %d s; log: %s" % (RUN_TIMEOUT_S, log_path), file=sys.stderr)
            return 3
        finally:
            # the JVM and anything it started go down with this run, and are waited for
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print("[perfbench] JVM exited with %d; log: %s" % (proc.returncode, log_path), file=sys.stderr)
        return 4
    try:
        result = check_result(lines[-1])
    except ValueError as e:
        print("[perfbench] malformed result (%s); log: %s" % (e, log_path), file=sys.stderr)
        return 5
    record = [json.loads(l[len("perfbench-run "):]) for l in lines if l.startswith("perfbench-run ")]
    record = dict(record[-1], driver_mem=driver_mem()) if record else None
    with open(os.path.join(bdir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"ts": time.time(), "run": record, "result": result}) + "\n")
    if record:
        print("perfbench-run " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
