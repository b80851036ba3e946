#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, packs them into .bench_build/perfbench.jar
and archives the classes a short pass over every workload loads
(.bench_build/cds.jsa, JDK class data sharing), which cuts JVM and Spark
start-up from every later run. The build is skipped when the stamp of
the previous build matches the sources.

Usage, from the root of a checkout:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
OUT = os.path.join(".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "cds.jsa")
STAMP = os.path.join(OUT, "STAMP")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


SCALAC_JAR = "scala-compiler-2.13.17.jar"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one beside a
    spark-submit on PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if os.path.isfile(os.path.join(home, "jars", SCALAC_JAR)):
            return os.path.join(home, "jars")
    raise RuntimeError(f"no Spark jar directory with {SCALAC_JAR}: set SPARK_HOME")


def java_cmd(work, cds_flag):
    """The JVM command line of a benchmark run, up to the main class's
    arguments. `cds_flag` selects class data sharing: dumping at exit,
    using the archive, or neither."""
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xlog:disable",
             "-Xlog:all=error:stderr"]
            + ([cds_flag] if cds_flag else [])
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", os.pathsep.join([os.path.abspath(JAR), os.path.join(spark_jars(), "*")]),
               "graft.perfbench.Main", "--work", work])


def java_env():
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    # these would override spark.local.dir and put Spark's scratch files
    # outside the checkout
    for k in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS"):
        env.pop(k, None)
    return env


def run_flag():
    return f"-XX:SharedArchiveFile={os.path.abspath(CDS)}" if os.path.isfile(CDS) else None


def sources(root):
    found = []
    for base, _, files in os.walk(root):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "log4j2.properties"), os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_jar(files, log):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes, ignore_errors=True)


def train_archive(log):
    """One short pass over every workload, dumping the loaded classes."""
    work = os.path.abspath(os.path.join(OUT, "work", "train"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("[perfbench] archiving classes of a short pass over every workload",
          file=log, flush=True)
    cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={os.path.abspath(CDS)}.tmp") + [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=log, timeout=600,
                           env=java_env())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise RuntimeError(f"training pass failed with exit code {r.returncode}")
    os.replace(CDS + ".tmp", CDS)


def build(log=sys.stderr):
    """Build if needed. Raises on failure."""
    engine = sources(ENGINE_SRC)
    if not engine:
        raise RuntimeError(f"no engine sources under {ENGINE_SRC}: "
                           "run from the root of a checkout")
    bench = sources(BENCH_SRC)
    if not bench:
        raise RuntimeError(f"no benchmark sources under {BENCH_SRC}")
    spark_jars()  # fails early without a Spark that ships the Scala compiler
    want = stamp(engine + bench)
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(OUT, exist_ok=True)
    for f in (STAMP, CDS):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(engine + bench, log)
    train_archive(log)
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    try:
        build()
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
