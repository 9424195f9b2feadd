#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's client (perfbench/harness) with the Scala compiler that ships
with Spark, into .bench_build/perfbench/. Outputs are keyed by a hash of
their sources, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py        (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler "
                         "(set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(top):
    files = sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {top}")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, files, dest, log):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed, see {log}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build():
    """Compile what is stale; return the classpath of program + client."""
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    prog_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    prog = os.path.join(OUT, "classes-" + digest(prog_src))
    if not os.path.isdir(prog):
        scalac(jars, jars, prog_src, prog, os.path.join(OUT, "compile-program.log"))
    client_src = sources(os.path.join(BENCH, "harness"))
    client = os.path.join(OUT, "client-" + digest(client_src, os.path.basename(prog)))
    if not os.path.isdir(client):
        scalac(jars, os.pathsep.join([prog, jars]), client_src, client,
               os.path.join(OUT, "compile-client.log"))
    for stale in glob.glob(os.path.join(OUT, "classes-*")) + glob.glob(os.path.join(OUT, "client-*")):
        if stale not in (prog, client):
            shutil.rmtree(stale, ignore_errors=True)
    return os.pathsep.join([client, prog, jars])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
