#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the repository's main sources (`src/main/scala`) together with
the benchmark's own sources (`perfbench/src`) into one jar,
with the Scala compiler that ships in the Spark distribution. No sbt, no
dependency download: the classpath is the Spark jar directory. Then one
JVM (perfbench.Prepare) writes the fixed `query_mix` tables and, as it
exits, a class-data sharing archive of the classes it loaded, which
every run maps to halve JVM and Spark start-up.

    python3 perfbench/build.py        # prints the path of the jar

The outputs live in `.bench_build/perfbench/` at the checkout root and
are rebuilt only when a source file or the toolchain changes, so every
run in a checkout starts from the same jar, tables and archive.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = os.path.join(OUT, "mix-tables")
ARCHIVE = os.path.join(OUT, "classes.jsa")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compiler_jars():
    jars = {}
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar"))
        if not hits:
            raise BuildError(f"no {name} jar in {SPARK_JARS}")
        jars[name] = hits[0]
    return jars


def stamp(srcs, jars):
    h = hashlib.sha256()
    for j in sorted(jars.values()):
        h.update(j.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jvm_prefix(jar, work, share=True):
    """The JVM and its flags, up to the main class. With `share`, the JVM
    maps the build's class-data sharing archive when there is one; a
    stale or mismatched archive is ignored by the JVM, never fatal.

    The heap and its young generation have fixed sizes. Left to adapt,
    G1 sized the young generation differently from run to run, so the
    same work took 17 to 63 collections and its CPU time moved by a
    third with them. The JIT compiler threads live as long as the JVM
    (see `Cpu.compilerSeconds`)."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if share and os.path.exists(ARCHIVE) else []
    return ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + cds + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([jar, os.path.join(SPARK_JARS, "*")])]


def prepare(jar):
    """Write the query_mix tables and the class-data sharing archive."""
    work = os.path.join(OUT, "prepare")
    for d in (work, TABLES):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.makedirs(os.path.join(work, "tmp"))
    java, *flags = jvm_prefix(jar, work, share=False)
    cmd = [java, f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + flags + ["perfbench.Prepare", work, TABLES]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(os.path.join(TABLES, "_READY")):
        raise BuildError("writing the query_mix tables failed:\n" + proc.stdout[-4000:])


def build():
    """Return the benchmark jar, compiling first if it is stale."""
    srcs = sources()
    jars = compiler_jars()
    want = stamp(srcs, jars)
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "stamp")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == want:
                    return jar
        classes = os.path.join(OUT, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g",
               "-cp", os.pathsep.join([jars["scala-compiler"], jars["scala-library"], jars["scala-reflect"]]),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))),
               "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for base, _, files in os.walk(classes):
                for f in sorted(files):
                    z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), classes))
        os.replace(jar + ".tmp", jar)
        shutil.rmtree(classes)
        prepare(jar)
        with open(stamp_file, "w") as f:
            f.write(want + "\n")
        return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
