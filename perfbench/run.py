#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the root project and this harness with sbt (both
compiled from source), caches the classpath under .bench_build/ and makes
every workload's inputs under data/perfbench/; later runs start the JVM
directly. The last line of standard output is the JSON
result of the run.
"""
import argparse
import hashlib
import os
import subprocess
import sys

WORKLOADS = ("transcripts", "neardup")
BENCH_DIR = "perfbench"
BUILD_DIR = os.path.join(".bench_build", "perfbench")
# The generators of the benchmark's inputs: a change to either makes new
# input tables instead of reusing cached ones.
DATA_SOURCES = (os.path.join("src", "main", "scala", "graft", "jobs", "TranscriptGen.scala"),
                os.path.join(BENCH_DIR, "src", "main", "scala", "graftbench", "Data.scala"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the root project and this harness."""
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "run.py"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join("src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(data_key):
    """Builds if any source changed since the cached build, then makes every
    workload's inputs; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    build_stamp = stamp(source_files())
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == build_stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("# building graft and the benchmark with sbt", flush=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-5000:])
        fail("build failed")
    entries = out.stdout.strip().splitlines()[-1].strip().split(os.pathsep)
    if not any("perfbench" in e for e in entries):
        sys.stderr.write(out.stdout[-5000:])
        fail("could not read the classpath from sbt")
    cp = os.pathsep.join(entries)
    print("# generating the inputs of every workload", flush=True)
    try:
        gen = subprocess.run(
            java_cmd(cp, ["--workload", "inputs", "--seed", "0", "--seconds", "0",
                          "--trace", "0", "--data-key", data_key]),
            stdout=subprocess.PIPE, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("input generation timed out")
    print(gen.stdout, end="", flush=True)
    if gen.returncode != 0:
        fail("input generation failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(build_stamp)
    return cp


def java_cmd(cp, args):
    """The benchmark JVM's command line."""
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # A fixed-size heap under the parallel collector: with G1 and a growing
    # heap, the System.gc() before each pass shrank the heap again and the
    # passes ran 20-40 % slower and spread wider.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=error:stderr",
           "-Dlog4j2.configurationFile=" + os.path.abspath(
               os.path.join(BENCH_DIR, "log4j2.properties"))]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", *args, "--root", os.getcwd()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join(BENCH_DIR, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a graft checkout")

    data_key = stamp(DATA_SOURCES)[:12]
    cp = classpath(data_key)
    cmd = java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace,
                        "--data-key", data_key])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    result = [line for line in lines if line.startswith("{")]
    for line in lines:
        if not line.startswith("{"):
            print(line)
    if proc.returncode != 0 or len(result) != 1:
        fail(f"benchmark exited with code {proc.returncode}")
    print(result[0], flush=True)


if __name__ == "__main__":
    main()
