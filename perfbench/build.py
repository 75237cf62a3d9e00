"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/src`) are
compiled with the Scala compiler that ships in `$SPARK_HOME/jars`, against
the Spark jars there, into one jar each under `$CARGO_TARGET_DIR` (default
`.bench_build`). Each part is rebuilt only when a digest of its sources
changed. Last, a JVM class-data archive of the classes a run loads is
dumped next to the jars; runs map it instead of loading those classes one
by one, which takes about 4 s off every JVM start.

    python3 perfbench/build.py        # prints the JVM arguments of a run
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# JVM options of every harness JVM: Spark 4 on JDK 17 needs these opens
# when it is started outside spark-submit.
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# Benchmark runs use the client compiler only (README.md, "JIT");
# `default` is the JVM's own tiered compilation, for jitcheck.py.
JIT = {"c1": ["-XX:TieredStopAtLevel=1"], "default": []}


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        sys.exit("build: set SPARK_HOME to a Spark 4 / Scala 2.13 install "
                 "whose jars/ holds scala-compiler")
    return os.path.join(home, "jars", "*")


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        sys.exit(f"build: no Scala sources under {d}")
    return found


def compile_part(name, srcs, classpath, out_root):
    """Compile `srcs` into `<out_root>/<name>.jar` unless it is up to date."""
    out = os.path.join(out_root, name)
    jar = out + ".jar"
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(classpath.encode())
    stamp = out + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: compiling {name} failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in sorted(os.walk(out)):
            for f in sorted(files):
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar


def class_archive(classpath, out_root):
    """Dump the class-data archive once per pair of jars; return its path.

    A run that finds the archive stale (the jars changed) prints a warning
    and loads classes the slow way, so a stale archive costs time only.
    """
    arch = os.path.join(out_root, "classes.jsa")
    stamp = arch + ".stamp"
    key = "|".join(f"{p}:{os.path.getmtime(p)}" for p in classpath.split(os.pathsep)[:2])
    if os.path.exists(arch) and os.path.exists(stamp) and open(stamp).read() == key:
        return arch
    for p in (arch, stamp):
        if os.path.exists(p):
            os.remove(p)
    work = os.path.join(out_root, "warm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={arch}", f"-Djava.io.tmpdir={work}"]
                       + JVM_OPTS + JIT["c1"] + ["-cp", classpath, "perfbench.Harness", "--mode", "warm",
                                     "--work", work],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(arch):
        sys.exit("build: dumping the class-data archive failed")
    with open(stamp, "w") as f:
        f.write(key)
    return arch


def build(jit="c1"):
    """Build what changed; return the JVM arguments that run the harness."""
    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    prog = compile_part("program", sources(os.path.join(ROOT, "src", "main", "scala")),
                        jars, out_root)
    harness = compile_part("harness", sources(os.path.join(BENCH, "src")),
                           os.pathsep.join([prog, jars]), out_root)
    classpath = os.pathsep.join([harness, prog, jars])
    arch = class_archive(classpath, out_root)
    return JVM_OPTS + JIT[jit] + [f"-XX:SharedArchiveFile={arch}", "-cp", classpath]


if __name__ == "__main__":
    print(" ".join(build()))
