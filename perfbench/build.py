#!/usr/bin/env python3
"""Build the graft library and the benchmark harness from source.

Usage: python3 perfbench/build.py   (from the repository root)

Compiles src/main/scala and perfbench/src with the Scala compiler that
ships among Spark's jars into one jar, then runs the verification of the
query workloads against DuckDB once (perfbench.Main verify). Everything
lands in .bench_build/perfbench/<key>/, where the key hashes every source
file, the Spark jar listing and the Java version; an existing complete
build with the same key is reused; a build that failed part-way is redone.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def java_opts():
    """JVM flags every benchmark JVM runs with (also the verification run's)."""
    opts = [f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def classpath(jar):
    return f"{jar}:{os.path.join(spark_jars(), '*')}"


def ensure(root, data_dir):
    """Return the build for the current sources, building it when missing."""
    jars = spark_jars()
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        sys.exit("perfbench: no graft sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for f in sorted(os.listdir(data_dir)):
        h.update(f"{f}:{os.path.getsize(os.path.join(data_dir, f))}".encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.encode())
    key = h.hexdigest()[:16]
    out = os.path.join(root, ".bench_build", "perfbench", key)
    build = {"key": key, "dir": out, "jar": os.path.join(out, "perfbench.jar")}
    if os.path.isfile(os.path.join(out, "complete")):
        return build

    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    jcp = os.path.join(jars, "*")
    log = open(os.path.join(out, "build.log"), "w")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jcp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-cp", jcp] + srcs,
                   check=True, stdout=log, stderr=subprocess.STDOUT)
    subprocess.run(["jar", "cf", build["jar"], "-C", classes, "."], check=True)
    shutil.rmtree(classes)

    # Verification run: checks the query workloads' results against DuckDB
    # and keeps their digests (perfbench.Main verify).
    work = os.path.join(out, "verify")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), PYTHONDONTWRITEBYTECODE="1")
    print("perfbench: verifying query results against DuckDB", file=sys.stderr)
    r = subprocess.run(["java"] + java_opts() + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath(build["jar"]),
                        "perfbench.Main", "verify", "1", "1", "0", data_dir, work, out, os.path.join(work, "result.json")],
                       cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    log.close()
    if r.returncode != 0:
        sys.exit(f"perfbench: verification run failed (exit {r.returncode}); see {out}/build.log")
    shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(out, "complete"), "w").close()
    return build


if __name__ == "__main__":
    root = os.getcwd()
    b = ensure(root, os.path.join(root, "perfbench", "data", "sf0.01"))
    print(b["dir"])
