#!/usr/bin/env python3
"""Search-engine benchmark command.

    python3 searchbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (see build.py) on first use, then runs one workload in one JVM.
Standard output ends with the result line; the run record and, with
`--trace 1`, the spans are also kept under .bench_build/records/.
Exits non-zero when the build fails, the inputs of the program are
missing, or any operation fails or answers wrong.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["oneshot_scan", "indexed_serve", "build_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    try:
        cp = build.build()
        share = build.class_share(cp)
    except build.BuildError as e:
        print(f"searchbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC"] + share + build.jvm_log_opts() + build.java_opts(tmp) + [
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(cp), "searchbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work,
        "--records", os.path.join(build.OUT, "records"), "--commit", git_commit()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"searchbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
