#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload board|rag_ingest \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (once per source
state, into .bench_build/), then runs one workload in one JVM. The last
line of stdout is the result object; stderr carries the build log, the
per-pass timings and any failed check. Exits non-zero, without a result,
when the checkout has no engine sources to build.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
WORKLOADS = ("board", "rag_ingest")
# a run must end within 180 s; leave room to stop the JVM
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    for top in inputs:
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in ("perfbench/build.sbt", "perfbench/project/build.properties"):
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jar directory the engine's own build compiles against."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("cannot find the Spark jars: build.sbt names none and SPARK_HOME is not set")


def build(root):
    """Compiles engine + harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala; run from the root of a graft checkout")
    stamp_file = os.path.join(root, BUILD, "stamp")
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars(root)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    cp = [line for line in lines if BUILD in line and not line.startswith("[")]
    sys.stderr.write("\n".join(line for line in lines[-40:] if line not in cp) + "\n")
    if proc.returncode != 0 or not cp:
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def java_cmd(root, classpath, main, args, extra=()):
    """JVM command for a harness main; work files stay under .bench_build/work."""
    work = os.path.join(root, BUILD, "work")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             # a JVM crash report goes beside the build, not into the checkout root
             f"-XX:ErrorFile={root}/{BUILD}/hs_err_pid%p.log",
             f"-Dlog4j2.configurationFile={root}/perfbench/log4j2.properties",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *extra, *opens,
             "-cp", classpath, main, *args, "--root", root])


def fresh_work(root):
    """Every run starts from the same staging state: no work directory."""
    work = os.path.join(root, BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "workloads.json")):
        fail("run from the checkout root (perfbench/workloads.json not found)")
    classpath = build(root)
    env = fresh_work(root)
    cmd = java_cmd(root, classpath, "perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace])
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(os.path.join(root, BUILD, "work"), ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        fail(f"harness exited {proc.returncode} without a result")
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
