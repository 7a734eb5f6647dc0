#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark's own sources
(`perfbench/src`) with the Scala compiler that ships among the Spark jars,
into `.bench_build/classes` under the checkout. Nothing is written outside
the checkout, and nothing is fetched: the jar directory is `$SPARK_HOME/jars`,
or the `unmanagedBase` that `build.sbt` names.

A stamp over the compiled sources makes each part rebuild only when one of
its sources (or, for the benchmark, the engine) changed. Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import subprocess
import sys

BUILD = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt", encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def fresh(out, stamp):
    try:
        with open(out + ".stamp") as f:
            return f.read() == stamp
    except OSError:
        return False


def scalac(jars, classpath, out, srcs, log, stamp):
    """Compile `srcs` into a clean `out`; stamp it only when scalac succeeds."""
    for p in (out + ".stamp", out):
        subprocess.run(["rm", "-rf", p], check=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {out} (see {log.name})")
    with open(out + ".stamp", "w") as f:
        f.write(stamp)


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: {ENGINE_SRC} not found; run from the repository root")
    jars = jar_dir()
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise SystemExit("build: no sources to compile")
    classes = os.path.join(BUILD, "classes")
    engine_out = os.path.join(classes, "engine")
    bench_out = os.path.join(classes, "bench")
    jar_cp = os.path.join(jars, "*")
    engine_stamp = digest(engine) + jars
    bench_stamp = engine_stamp + digest(bench)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "a") as log:
        if not fresh(engine_out, engine_stamp):
            scalac(jars, jar_cp, engine_out, engine, log, engine_stamp)
        if not fresh(bench_out, bench_stamp):
            scalac(jars, engine_out + os.pathsep + jar_cp, bench_out, bench, log, bench_stamp)
    return os.pathsep.join([bench_out, engine_out, jar_cp])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
