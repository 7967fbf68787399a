#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source.

Compiles the engine's main sources (src/main/scala) together with the
harness (graftbench/scala) with the Scala compiler that ships in Spark's
jar directory ($SPARK_HOME/jars, else the one build.sbt names), into
.bench_build/graftbench/classes, and packs them into graftbench.jar.
Then one JVM runs every workload at the smoke scale (graftbench.Warm)
and dumps the classes it loaded into a class-data archive,
classes.jsa, which every benchmark JVM maps (JVM_FLAGS): class loading
is most of a fresh JVM's start-up, and the run budget is mostly
start-up. A stamp of every source file's path and content skips all
of this when nothing changed.

    python3 graftbench/build.py          # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("graftbench", "scala")
OUT = os.path.join(".bench_build", "graftbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_flags(tmp):
    """Flags of every benchmark JVM, the archive dump's included (a
    dynamic archive is used only under the settings it was dumped with)."""
    return (["-XX:-UsePerfData", "-Xmx1g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    declares (`unmanagedBase := file("...")`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if m is None:
            raise SystemExit("graftbench: set SPARK_HOME (build.sbt names no Spark jar directory)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"graftbench: no Spark jars under {jars}")
    return jars


def sources(root):
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit(f"graftbench: missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return the classpath for running the harness."""
    root = os.path.abspath(root)
    files = sources(root)
    jars = spark_jars(root)
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "graftbench.jar")
    os.makedirs(out, exist_ok=True)
    cp = jar + os.pathsep + os.path.join(jars, "*")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = stamp_of([os.path.relpath(f, root) for f in files], jars)
        stamp_file = os.path.join(out, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                    if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-cp", os.path.join(jars, "*"), "@" + args_file]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-8000:])
            raise SystemExit("graftbench: compile failed")
        pack(classes, jar)
        dump_archive(root, cp)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return cp


def pack(classes, jar):
    """Classes into a jar: the archive takes classes from jars only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                info = zipfile.ZipInfo(os.path.relpath(path, classes).replace(os.sep, "/"), (1980, 1, 1, 0, 0, 0))
                with open(path, "rb") as fh:
                    z.writestr(info, fh.read())


def dump_archive(root, cp):
    archive = os.path.join(root, ARCHIVE)
    work = os.path.join(root, OUT, "warm")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    if os.path.exists(archive):
        os.remove(archive)
    cmd = (["java", f"-XX:ArchiveClassesAtExit={archive}"] + jvm_flags(tmp)
           + ["-cp", cp, "graftbench.Warm", work, str(cores())])
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             cwd=work, timeout=600)
    except subprocess.TimeoutExpired:
        raise SystemExit("graftbench: class-data archive dump timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit("graftbench: class-data archive dump failed")


if __name__ == "__main__":
    print(build("."))
