#!/usr/bin/env python3
"""Build file of the repo benchmark.

Compiles the library (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, else the unmanagedBase of build.sbt), and
packs the classes and src/main/resources into .bench_build/perfbench.jar.

It then runs graft.perfbench.Train once, which warms up every workload of
BENCHMARK.json over its seed-0 corpus, and keeps the classes it loaded as a
class-data-sharing archive (.bench_build/perfbench.jsa) that every
benchmark JVM starts from: Spark's
class loading is the larger part of a cold start, and without the archive a
run spent about 6 s before the session was ready instead of about 3 s.

A stamp of the sources' paths and contents skips all of this when nothing
changed.

    python3 perfbench/build.py      # prints the java command of a run
"""
import hashlib
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
MAIN = ROOT / "src" / "main"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"
STAMP = BUILD / "perfbench.stamp"

# What spark-submit would add on JDK 17, plus the settings build.sbt gives
# the repo's own mains.
JVM_OPTS = [
    "-Xms1g", "-Xmx1g",
    *(f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")),
    "-Dspark.ui.enabled=false", "-Duser.language=en", "-Duser.country=US",
    "-Duser.timezone=UTC",
]


def workloads():
    return json.loads((ROOT / "perfbench" / "workloads.json").read_text())["workloads"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.is_file() else None
    if m is None:
        sys.exit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return pathlib.Path(m.group(1))


def java(work, *extra):
    """The java command line of a benchmark JVM with scratch under `work`."""
    return ["java", *JVM_OPTS, *extra, f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", os.pathsep.join([str(JAR), f"{spark_jars()}/*"])]


def java_env():
    """The environment of a benchmark JVM. SPARK_LOCAL_DIRS is dropped: it
    would override the spark.local.dir the benchmark keeps in the checkout."""
    return {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}


def run_logged(cmd, log, timeout):
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=timeout,
                            env=java_env()).returncode
    if rc != 0:
        print(pathlib.Path(log).read_text(errors="replace")[-4000:], file=sys.stderr)
        sys.exit(f"perfbench: build step failed ({rc}); see {log}")


def build(data):
    """Builds if the sources changed; returns the java options that start a
    JVM from the archive. `data` is the corpus cache the training run may
    fill."""
    if not (MAIN / "scala").is_dir():
        sys.exit(f"perfbench: no library sources at {MAIN / 'scala'}; "
                 "run from the root of a checkout of the repo")
    if not spark_jars().is_dir():
        sys.exit(f"perfbench: Spark jars not found at {spark_jars()}; set SPARK_HOME")
    sources = sorted((MAIN / "scala").rglob("*.scala")) + \
        sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    resources = sorted(p for p in (MAIN / "resources").rglob("*") if p.is_file())
    # Train on each BENCHMARK.json workload at its size.
    sizes = workloads()
    specs = [f"{w['name']}:{sizes[w['name']]['mult']}:{sizes[w['name']]['pass_size']}"
             for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]
    digest = hashlib.sha256(" ".join(JVM_OPTS + specs).encode())
    for p in sources + resources:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    archive_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    if STAMP.is_file() and STAMP.read_text() == stamp and JAR.is_file() and ARCHIVE.is_file():
        return archive_opts

    STAMP.unlink(missing_ok=True)
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    run_logged(["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
                "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                "-d", str(classes), f"@{argfile}"], BUILD / "compile.log", 800)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
        for base in (classes, MAIN / "resources"):
            for p in sorted(base.rglob("*")):
                if p.is_file():
                    jar.write(p, p.relative_to(base).as_posix())
    shutil.rmtree(classes)

    print("perfbench: training the class-data archive", file=sys.stderr)
    ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    run_logged([*java(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                "graft.perfbench.Train", str(data), str(work), *specs],
               BUILD / "train.log", 600)
    shutil.rmtree(work, ignore_errors=True)
    STAMP.write_text(stamp)
    return archive_opts


if __name__ == "__main__":
    print(" ".join(java(BUILD, *build(ROOT / ".bench_data"))))
