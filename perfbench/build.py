#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala, plus src/main/resources) and
the benchmark's own (perfbench/src) into one jar, with the Scala compiler
that ships among the Spark distribution's jars; no sbt, no network. Then a
short training run (dbscan_dist on small inputs) records a class-data-sharing
archive of the classes it loaded, which every later JVM maps instead of
loading Spark's classes one by one (session start went from about 8 s to
4 s on a 4-vCPU VM).

    python3 perfbench/build.py            # prints the build's directory

The build directory is $CARGO_TARGET_DIR, or .bench_build under the
repository root. A build is keyed by a digest of every source file and the
jar list, so an unchanged tree is never compiled twice.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
COMPILER_HEAP = "3g"


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def digest(files, jars):
    h = hashlib.sha256()
    for p in files + sorted(RESOURCES.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()[:16]


# C1 only: on a 4-vCPU VM the C2 compiler kept speeding operations up for
# a dozen operations after a warm-up (and spent process CPU doing it); C1
# code reaches its steady speed within the warm-up
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData"] + [
    x for p in [
        # Spark on JDK 17 outside spark-submit (as in the engine's build.sbt)
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def java_cmd(out, jars, work, extra=(), main="perfbench.Main"):
    """The benchmark JVM: fixed heap, the build's jar plus Spark's jars,
    temporary files under `work`, the class archive when the build has one."""
    archive = out / "classes.jsa"
    return (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}"]
            + ([f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off"]
               if archive.exists() else [])
            + list(extra)
            + ["-cp", f"{out / 'perfbench.jar'}{os.pathsep}{jars / '*'}",
               main])


def train(out, jars):
    """Record the class archive from one small run; without it the
    benchmark still runs, only its JVMs start slower."""
    work = out / "train"
    work.mkdir()
    cmd = java_cmd(out, jars, work,
                   [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa.tmp'}"]) + [
        "--workload", "dbscan_dist", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--small", "--work", str(work)]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    tmp = out / "classes.jsa.tmp"
    if tmp.exists():
        tmp.rename(out / "classes.jsa")


def build():
    """Build if needed; return (build directory, Spark jar directory,
    source digest)."""
    jars = spark_jars()
    files = sources()
    key = digest(files, jars)
    out = build_dir() / f"build-{key}"
    if (out / "BUILD_OK").exists():
        return out, jars, key
    tmp = build_dir() / f"tmp-{key}-{os.getpid()}"
    classes = tmp / "classes"
    shutil.rmtree(tmp, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = ["java", f"-Xmx{COMPILER_HEAP}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} files", file=sys.stderr)
    ok = subprocess.run(cmd, stdout=sys.stderr).returncode == 0
    if ok:
        if RESOURCES.is_dir():
            shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
        # the class archive needs jars on the class path, not directories
        ok = subprocess.run(["jar", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
                             "cf", str(tmp / "perfbench.jar"),
                             "-C", str(classes), "."]).returncode == 0
    if not ok:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: build failed")
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    train(out, jars)  # the archive records the jar's final path
    (out / "BUILD_OK").write_text(key)
    return out, jars, key


if __name__ == "__main__":
    print(build()[0])
