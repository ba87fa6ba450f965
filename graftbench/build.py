#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (graftbench/src) using the Scala compiler that ships in Spark's jars
directory, and packs them into <build_dir>/graftbench.jar. A stamp over
every source file and the jar list makes a rebuild with unchanged inputs
a no-op. Nothing is written outside <build_dir>.

Usage: python3 graftbench/build.py [build_dir]    (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# Spark on JDK 17 outside spark-submit needs these (Spark's launcher
# JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"graftbench: no Spark jars directory at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(build_dir, run_dir, main, args):
    """The benchmark JVM. JVM log output goes to stderr; stdout carries
    only the benchmark's lines. No perf data file: the JVM would write it
    outside the checkout."""
    return (["java", *OPENS, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false",
             "-cp", os.path.join(build_dir, "graftbench.jar") + os.pathsep +
             os.path.join(spark_jars(), "*"),
             main] + args)


def bench_args(run_dir):
    return ["--data", os.path.join(BENCH, "data", "sf0.01"),
            "--run-dir", run_dir,
            "--reference", os.path.join(BENCH, "reference", "digests.tsv"),
            "--spec", os.path.join(ROOT, "BENCHMARK.json")]


def stamp():
    """Hash of the Spark jar list, every source file and this file."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(spark_jars())):
        h.update(name.encode())
    for s in sources() + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile and pack if needed; return the build directory."""
    jars = spark_jars()
    srcs = sources()
    want = stamp()
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return build_dir
    os.makedirs(build_dir, exist_ok=True)
    for stale in ("build.stamp", "graftbench.jar"):
        if os.path.exists(os.path.join(build_dir, stale)):
            os.remove(os.path.join(build_dir, stale))

    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    javatmp = os.path.join(build_dir, "javatmp")
    os.makedirs(javatmp, exist_ok=True)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={javatmp}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-cp", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compilation failed ({r.returncode})")
    pack(build_dir)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return build_dir


def pack(build_dir):
    """Pack <build_dir>/classes into <build_dir>/graftbench.jar."""
    classes = os.path.join(build_dir, "classes")
    with zipfile.ZipFile(os.path.join(build_dir, "graftbench.jar"), "w",
                         zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
