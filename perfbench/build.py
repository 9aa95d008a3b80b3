#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources (src/main/scala)
into .bench_build/library-<hash>, then the benchmark's own sources
(perfbench/src) against them into .bench_build/benchmark-<hash>, with the
Scala compiler that ships in Spark's jars directory.

Each tree is reused while none of its sources changes. Run from the repository
root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
LIBRARY = "src/main/scala"
BENCHMARK = "perfbench/src"


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root, base):
    top = os.path.join(root, base)
    if not os.path.isdir(top):
        raise SystemExit(f"build: source directory {base} is missing")
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_tree(root, kind, srcs, key, classpath):
    """Compile `srcs` into .bench_build/<kind>-<hash of key and sources>,
    reusing that directory while nothing changed."""
    h = hashlib.sha256(key.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    name = f"{kind}-{h.hexdigest()[:16]}"
    out = os.path.join(root, BUILD_DIR, name)
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = os.path.join(root, BUILD_DIR, "tmp-" + name)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + srcs, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed on {kind} with code {r.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(os.path.join(root, BUILD_DIR)):
        if old.startswith(kind + "-"):
            shutil.rmtree(os.path.join(root, BUILD_DIR, old), ignore_errors=True)
    os.rename(tmp, out)
    print(f"build: compiled {len(srcs)} {kind} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def build(root):
    """Return the classpath entries: library classes, then benchmark classes."""
    lib = compile_tree(root, "library", sources(root, LIBRARY), "", "")
    bench = compile_tree(root, "benchmark", sources(root, BENCHMARK), os.path.basename(lib), lib)
    return [lib, bench]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
