#!/usr/bin/env python3
"""Build graft's main sources plus the benchmark harness for a benchmark run.

The compiler is plain scalac from the Spark distribution (the Scala version
the sbt build pins), so the build needs no dependency resolution. Output
goes to .bench_build under the checkout root and is reused while no
source file changes:

  - bench-<digest>.jar: every class of src/main/scala and perfbench/src;
  - bench-<digest>.jsa: a class-data-sharing archive recorded from one
    tiny run, which cuts JVM and Spark start-up in every later run. The
    archive only changes class loading; without it runs still work, and
    each run records in its metadata whether it had one (`cds` on/off).

    python3 perfbench/build.py      # prints the jar path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """jars/ of SPARK_HOME, else of the first Spark distribution on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if glob.glob(os.path.join(h, "jars", "spark-core_*.jar")):
            return os.path.join(h, "jars")
    return os.path.join(homes[0] if homes else ".", "jars")


SPARK_JARS = spark_jars()
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as in the sbt build)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"no program sources under {os.path.relpath(MAIN_SRC, ROOT)}")
    files = []
    for base in (MAIN_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scala_jar(name):
    found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar")))
    if not found:
        raise BuildError(f"no {name} jar in {SPARK_JARS}")
    return found[-1]


def java_cmd(jar, work, extra=()):
    """The JVM command line of a harness run, up to the main class."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", *extra]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}:{os.path.join(SPARK_JARS, '*')}", "graft.perfbench.Main"]


def compile_jar(files, jar):
    tmp = f"{jar}.classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = f"{jar}.scalac-args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler_cp = ":".join(scala_jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.path.join(SPARK_JARS, "*"), f"@{args_file}"]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=800)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        with zipfile.ZipFile(f"{jar}.part", "w", zipfile.ZIP_STORED) as z:
            for base, _, names in os.walk(tmp):
                for n in sorted(names):
                    p = os.path.join(base, n)
                    z.write(p, os.path.relpath(p, tmp))
        os.rename(f"{jar}.part", jar)
    finally:
        os.remove(args_file)
        shutil.rmtree(tmp, ignore_errors=True)


def record_archive(jar, jsa):
    """Record the class-data-sharing archive from one tiny run."""
    work = os.path.join(BUILD, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={jsa}.part"]) + [
        "--workload", "gen_read", "--seed", "1", "--seconds", "1", "--trace", "0",
        "--cpus", str(len(os.sched_getaffinity(0))), "--work", os.path.join(work, "run"),
        "--out", os.path.join(work, "out"), "--tiny", "1"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=400)
        if proc.returncode == 0 and os.path.isfile(f"{jsa}.part"):
            os.rename(f"{jsa}.part", jsa)
        else:
            print(f"perfbench build: recording the class-data-sharing archive exited with {proc.returncode};"
                  " runs start without it (metadata cds=off)", file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("perfbench build: recording the class-data-sharing archive timed out;"
              " runs start without it (metadata cds=off)", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(f"{jsa}.part"):
            os.remove(f"{jsa}.part")


def ensure_built():
    """Return (jar, archive or None, source digest), building when sources changed."""
    files = sources()
    d = digest(files)
    jar = os.path.join(BUILD, f"bench-{d[:16]}.jar")
    jsa = os.path.join(BUILD, f"bench-{d[:16]}.jsa")
    if not os.path.isfile(jar):
        os.makedirs(BUILD, exist_ok=True)
        for old in glob.glob(os.path.join(BUILD, "bench-*")):
            os.remove(old) if os.path.isfile(old) else shutil.rmtree(old, ignore_errors=True)
        compile_jar(files, jar)
        record_archive(jar, jsa)
    return jar, (jsa if os.path.isfile(jsa) else None), d


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
