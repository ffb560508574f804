#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program's main sources and
the benchmark's JVM harness (perfbench/scala) with the Scala compiler
that ships in the Spark distribution, into a build directory inside the
checkout. A stamp of the source contents skips the build when nothing
changed.

    python3 perfbench/build.py

The build directory is $CARGO_TARGET_DIR (relative to the checkout),
.bench_build by default.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"no Spark jars with a Scala compiler in {candidates}; set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(base):
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    comp = os.pathsep.join(glob.glob(os.path.join(jars, n))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", comp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed ({r.returncode}); see {log.name}")


def classpath():
    """Runtime classpath: program classes, harness classes, Spark jars."""
    b = build_dir()
    return os.pathsep.join([os.path.join(b, "classes"), os.path.join(b, "harness"),
                            os.path.join(spark_jars(), "*")])


def ensure_built():
    """Compile if the sources changed since the last build. Returns the
    build directory."""
    b = build_dir()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    prog = sources(main_src)
    harness = sources(os.path.join(HERE, "scala"))
    if not prog:
        raise SystemExit(f"no program sources under {main_src}")
    want = stamp(prog + harness)
    stamp_file = os.path.join(b, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return b
    jars = spark_jars()
    os.makedirs(b, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(b, "build.log"), "w") as log:
        for d in ("classes", "harness"):
            shutil.rmtree(os.path.join(b, d), ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), os.path.join(b, "classes"), prog, log)
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(b, "classes"), dirs_exist_ok=True)
        scalac(jars, os.pathsep.join([os.path.join(b, "classes"), os.path.join(jars, "*")]),
               os.path.join(b, "harness"), harness, log)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"built in {time.time() - t0:.1f}s", file=sys.stderr)
    return b


if __name__ == "__main__":
    ensure_built()
