#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark sources (perfbench/src) in one scalac pass, with the Scala
compiler and Spark jars the sbt build already uses (the directory
build.sbt names as `unmanagedBase`, or SPARK_JARS), and packs the
classes into one jar. It then runs a miniature of the workloads once
(`Main --workload classes`) under -XX:ArchiveClassesAtExit, which
leaves a JVM class-data-sharing archive beside the jar; every benchmark
run maps it, which takes class loading and verification out of JVM and
session start. A build without the archive fails. Output goes to
.bench_build/perfbench/<source hash>/, so an unchanged tree is built
once and a changed one never reuses stale classes.

    python3 perfbench/build.py          # prints the jar path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


# Spark 4 on JDK 17 outside spark-submit (as in build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DUMP_TIMEOUT_S = 600


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_JARS)")
    return m.group(1)


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    if not out:
        raise SystemExit("perfbench: no Scala sources found")
    return sorted(out)


def java_cmd(jar, work, cds_flags):
    """JVM command line of one benchmark process, up to the main class's
    arguments. The archive run and the measured runs share it, so the
    class path the archive was dumped with is the one that maps it."""
    cmd = ["java", "-Xmx1g", "-XX:+UseG1GC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={work}/tmp"] + cds_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
                  "graft.perfbench.Main"]


def archive_classes(jar, archive):
    work = os.path.join(ROOT, ".bench_work", f"classes-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    dump = f"{archive}.tmp{os.getpid()}"
    cmd = java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={dump}"]) + [
        "--workload", "classes", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--work", work, "--result", os.path.join(work, "result.json"),
        "--detail", os.path.join(work, "detail.json")]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the class-archive run did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(dump):
        if os.path.exists(dump):
            os.remove(dump)
        raise SystemExit(f"perfbench: the class-archive run failed (exit code {r.returncode})")
    os.rename(dump, archive)


def build():
    """Returns (jar, archive), building whichever is missing."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    target = os.path.join(out_root, h.hexdigest()[:16])
    jar = os.path.join(target, "perfbench.jar")
    archive = os.path.join(target, "classes.jsa")
    if not os.path.isfile(jar):
        compile_jar(srcs, target)
    if not os.path.isfile(archive):
        archive_classes(jar, archive)
    return jar, archive


def compile_jar(srcs, target):
    tmp = target + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(os.cpu_count() or 1), "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(base, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)


if __name__ == "__main__":
    print(build()[0])
