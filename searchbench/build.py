#!/usr/bin/env python3
"""Build file of the search-engine benchmark.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark (`searchbench/src/main/scala`) into
`.bench_build/classes`, using the Scala compiler that ships in the Spark
distribution's `jars/` directory, so nothing is resolved or downloaded.
A build is skipped when a stamp of the sources and the compiler command
is unchanged.

    python3 searchbench/build.py          # build the benchmark
    python3 searchbench/build.py test     # build and run its tests
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"{jars} holds no scala-compiler jar")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources found")
    return sorted(out)


def java_opts(tmp):
    opts = ["-Xss8m", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def compile_into(name, srcs, extra_cp=()):
    """Compiles `srcs` into .bench_build/<name>, unless its stamp matches."""
    jars = spark_jars()
    dest = os.path.join(OUT, name)
    tmp = os.path.join(OUT, "tmp")
    cmd = ["java", "-Xmx2g"] + java_opts(tmp) + [
        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
        "-usejavacp", "-nowarn", "-d", dest]
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(extra_cp)]
    h = hashlib.sha256(" ".join(cmd).encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, f"{name}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(OUT, f"{name}.sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    if subprocess.run(cmd + ["@" + argfile], cwd=ROOT).returncode != 0:
        raise BuildError(f"compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return dest


def build():
    """Builds the program and the benchmark; returns the run classpath.
    The Spark jars come first: the class-sharing archive covers them and
    must be a prefix of the run classpath."""
    srcs = sources(PROGRAM_SRC, BENCH_SRC)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        classes = compile_into("classes", srcs)
    return [os.path.join(spark_jars(), "*"), classes]


def jvm_log_opts():
    # JVM warnings (class sharing, GC) to stderr: stdout carries the result
    return ["-Xlog:disable", "-Xlog:all=warning:stderr"]


def class_share(cp):
    """JVM options that map a class-data-sharing archive of the JDK and
    Spark classes a run loads, building the archive on first use.

    A fresh JVM spends most of Spark's start-up loading and verifying
    classes; the archive cuts that by several seconds per run. It is made
    from the class list of a tiny traced `build_ingest` run (which reaches
    every layer) and holds only classes from the Spark jars, so it does not
    depend on the program's sources. If it cannot be made, runs go on
    without it."""
    jsa = os.path.join(OUT, "spark-classes.jsa")
    key = hashlib.sha256("\n".join(
        sorted(os.listdir(os.path.dirname(cp[0])))).encode()).hexdigest()
    stamp = jsa + ".stamp"
    opts = [f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"]
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        # the stamp records a failed attempt too, so it is not retried per run
        if not (os.path.exists(stamp) and open(stamp).read().endswith(key)):
            ok = make_archive(cp, jsa)
            with open(stamp, "w") as fh:
                fh.write(("ok:" if ok else "failed:") + key)
        return opts if open(stamp).read() == "ok:" + key else []


def make_archive(cp, jsa):
    jars = cp[0]
    tmp = os.path.join(OUT, "tmp")
    work = os.path.join(OUT, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    classlist = os.path.join(OUT, "spark-classes.lst")
    train = ["java", "-Xmx2g", f"-XX:DumpLoadedClassList={classlist}"] + java_opts(tmp) + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(cp), "searchbench.Main", "--workload", "build_ingest",
        "--seed", "1", "--seconds", "1", "--trace", "1", "--scale", "tiny", "--work", work]
    dump = ["java", "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
            f"-XX:SharedArchiveFile={jsa}", "-cp", jars] + jvm_log_opts()
    try:
        ok = (subprocess.run(train, cwd=ROOT, stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL, timeout=300).returncode == 0 and
              subprocess.run(dump, cwd=ROOT, stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL, timeout=300).returncode == 0)
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("searchbench build: no class-sharing archive; running without", file=sys.stderr)
    return ok


def test():
    cp = build()
    tests = compile_into("test-classes", sources(TEST_SRC), extra_cp=[cp[1]])
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g"] + class_share(cp) + jvm_log_opts() + java_opts(tmp) + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([tests] + cp), "searchbench.BenchTests",
        os.path.join(OUT, "test-work")]
    return subprocess.run(cmd, cwd=ROOT).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        class_share(build())
    except BuildError as e:
        print(f"searchbench build: {e}", file=sys.stderr)
        sys.exit(2)
