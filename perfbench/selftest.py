#!/usr/bin/env python3
"""The benchmark's own tests, with a miniature rebuild. Run from the checkout root:

    python3 perfbench/selftest.py

1. `perfbench.SelfTest` (JVM): seeded inputs repeat, and each output check
   fails on a corrupted result (a flipped blob byte, a dropped store row).
2. Every workload, traced and untraced, prints exactly the metrics that
   BENCHMARK.json names, each with its unit, and passes its output checks.
3. A directory holding only BENCHMARK.json and the benchmark fails fast and
   prints no result.
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def fail(msg):
    print("FAIL " + msg)
    sys.exit(1)


def jvm_selftest(root, classes):
    work = os.path.join(root, build.BUILD_DIR, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = subprocess.run(run.java_command(classes, root, "perfbench.SelfTest", [work]),
                           env=run.java_env(root), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(r.stdout, end="")
    if r.returncode != 0:
        fail("perfbench.SelfTest exited with %d" % r.returncode)


def metric_sets(root, spec):
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in (0, 1):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = run.main(["--workload", w["name"], "--seed", "3", "--seconds", "1",
                                 "--trace", str(trace), "--scale", "mini"])
            if code != 0:
                fail("%s trace=%d exited with %d" % (w["name"], trace, code))
            result = json.loads(out.getvalue().strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                fail("%s trace=%d metrics %s, want %s" % (w["name"], trace, got, want[trace]))
            if not result["correct"] or result["failed"]:
                fail("%s trace=%d output checks failed" % (w["name"], trace))
            print("ok  %s trace=%d prints every metric with its unit; checks pass" % (w["name"], trace))


def bare_directory(root):
    bare = os.path.join(root, build.BUILD_DIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(build.BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rebuild", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                           timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or r.stdout.strip():
        fail("a directory without the program must fail without a result")
    print("ok  a directory without the program fails with %d and no result" % r.returncode)


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build(root)
    jvm_selftest(root, classes)
    metric_sets(root, spec)
    bare_directory(root)
    print("selftest passed")


if __name__ == "__main__":
    main()
