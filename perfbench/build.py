"""Build the program and the benchmark from source with the Scala compiler
that ships in the Spark distribution: no build tool, no downloads.

Classes land in `.bench_build/classes-<digest>` under the checkout root,
keyed by a digest of every source file and of the Spark jar list, so a
rebuild happens only when a source changes.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return home


def jars_dir():
    return os.path.join(spark_home(), "jars")


def program_sources(root):
    return sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))


def build(root, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    code = program_sources(root)
    if not code:
        raise BuildError("no program sources under src/main/scala")
    srcs = code + bench_sources()
    jars = sorted(os.listdir(jars_dir()))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(jars).encode())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars_dir(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(root, BUILD_DIR),
           "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # older builds of this checkout are dead weight
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
