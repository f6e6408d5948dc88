#!/usr/bin/env python3
"""Build step of the graft benchmark.

Compiles graft's own sources (src/main/scala, plus src/main/resources)
and then the benchmark's sources (perfbench/src) with the Scala compiler
that ships in the Spark jar directory the repository's build.sbt names
as `unmanagedBase`, and packs each into a jar. It then records a JVM
class-data-sharing archive from a tiny self-test run, so every benchmark
JVM starts Spark without re-parsing its classes. Outputs go to
.bench_build/ at the root of the checkout:

  .bench_build/graft.jar        graft's classes and resources
  .bench_build/graftbench.jar   the benchmark's classes
  .bench_build/graftbench.jsa   class-data-sharing archive of both + Spark

Each step is skipped when a stamp of its inputs is unchanged, so only
the first run in a checkout pays for it.

Usage (from the root of the checkout):  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions, i.e. Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The jar directory graft builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    try:
        with open("build.sbt", encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, "**", pattern), recursive=True))


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for path in files:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _fresh(path, stamp_value):
    stamp_file = path + ".stamp"
    if not os.path.exists(path) or not os.path.exists(stamp_file):
        return False
    with open(stamp_file, encoding="utf-8") as f:
        return f.read().strip() == stamp_value


def _mark(path, stamp_value):
    with open(path + ".stamp", "w", encoding="utf-8") as f:
        f.write(stamp_value + "\n")


def _jar(classes_dir, extra_dir, out):
    """Pack a class tree (plus resources) into a jar with fixed entry order."""
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for base in [d for d in (classes_dir, extra_dir) if d and os.path.isdir(d)]:
            for path in _files(base, "*"):
                if os.path.isfile(path):
                    z.write(path, os.path.relpath(path, base))
    os.replace(tmp, out)


def _compile(jars, classpath, files, out_jar, resources=None):
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError(f"Scala compiler jars not found in {jars}")
    classes = out_jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx1536m", "-Xss16m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"scalac failed for {out_jar}")
    _jar(classes, resources, out_jar)
    shutil.rmtree(classes, ignore_errors=True)


def runtime_classpath(jars):
    """Benchmark jar, graft jar, then Spark's jars in sorted order (the
    class-data archive checks the exact classpath)."""
    spark = [os.path.join(jars, n) for n in sorted(os.listdir(jars)) if n.endswith(".jar")]
    return os.pathsep.join([os.path.abspath(os.path.join(BUILD_DIR, "graftbench.jar")),
                            os.path.abspath(os.path.join(BUILD_DIR, "graft.jar"))] + spark)


def jvm_command(classpath, work, main_args, archive_flag):
    """The benchmark JVM: fixed heap, logs and scratch inside `work`."""
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += [
        # JVM warnings go to stderr: stdout carries only the report
        archive_flag, "-Xlog:disable", "-Xlog:all=warning:stderr",
        # fixed heap and the parallel collector: steadier cycle times and
        # peak RSS than G1's adaptive sizing over a run of tens of seconds
        "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xss4m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]
    return ["java"] + opts + ["-cp", classpath, "graftbench.Main"] + main_args


def archive_path():
    return os.path.abspath(os.path.join(BUILD_DIR, "graftbench.jsa"))


def _archive(classpath, stamp_value):
    """Record the class-data archive from a tiny self-test run. A failed
    self-test still leaves a usable archive; the benchmark's own checks
    report the failure when it runs."""
    out = archive_path()
    if _fresh(out, stamp_value):
        return
    sys.stderr.write("[build] recording the class-data archive (tiny self-test run)\n")
    work = os.path.abspath(os.path.join(BUILD_DIR, "archive-run"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(out):
        os.remove(out)
    cmd = jvm_command(classpath, work, ["--selftest", "--work", work],
                      f"-XX:ArchiveClassesAtExit={out}")
    with open(os.path.join(BUILD_DIR, "archive-run.log"), "w", encoding="utf-8") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(out):
        _mark(out, stamp_value)


def build():
    """Compile and archive what is stale; return (classpath, archive flag)."""
    jars = spark_jars_dir()
    os.makedirs(BUILD_DIR, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    prog_files = _files(PROGRAM_SRC, "*.scala")
    bench_files = _files(BENCH_SRC, "*.scala")
    if not prog_files or not bench_files:
        raise BuildError("program or benchmark sources missing")
    prog_stamp = _stamp(prog_files + _files(PROGRAM_RES, "*"), jars)
    prog_jar = os.path.join(BUILD_DIR, "graft.jar")
    if not _fresh(prog_jar, prog_stamp):
        sys.stderr.write(f"[build] compiling graft ({len(prog_files)} files)\n")
        _compile(jars, jar_cp, prog_files, prog_jar, PROGRAM_RES)
        _mark(prog_jar, prog_stamp)
    bench_stamp = _stamp(bench_files + [os.path.join(HERE, "build.py")], prog_stamp)
    bench_jar = os.path.join(BUILD_DIR, "graftbench.jar")
    if not _fresh(bench_jar, bench_stamp):
        sys.stderr.write(f"[build] compiling the benchmark ({len(bench_files)} files)\n")
        _compile(jars, os.pathsep.join([prog_jar, jar_cp]), bench_files, bench_jar)
        _mark(bench_jar, bench_stamp)
    classpath = runtime_classpath(jars)
    _archive(classpath, bench_stamp)
    flag = f"-XX:SharedArchiveFile={archive_path()}" if os.path.exists(archive_path()) \
        else "-Xshare:auto"
    return classpath, flag


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.stderr.write(f"[build] {e}\n")
        sys.exit(2)
