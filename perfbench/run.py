#!/usr/bin/env python3
"""Benchmark of the sleep-EDF pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 6 --trace 0

Workloads: pipeline, registry (see perfbench/README.md).
The program and the benchmark harness are compiled from source with the
Scala compiler that ships among the Spark jars the repository's build uses;
classes are cached under .bench_build/ and rebuilt when a source changes.
Everything a run writes stays under .bench_build/ and .bench_run/.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Extra flags: --size tiny (small inputs, for the smoke test).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

BUILD = ".bench_build"
WORK = ".bench_run"
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark/Scala jars found (looked in '{jars}')")
    return jars


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        die("no program sources under src/main/scala")
    return srcs + sorted(glob.glob("perfbench/src/*.scala"))


def source_hash(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compiles program + harness into BUILD/classes unless up to date."""
    srcs = sources()
    digest = source_hash(srcs)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        die("compilation failed", 1)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def git_sha(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:12]


def private_tmp(tmp_root):
    """Command prefix that gives the JVM a private /tmp (bound to tmp_root)
    and a private /dev/shm: some registry queries stage files under fixed
    /tmp and /dev/shm paths, and a run must not write outside the checkout.
    Empty when mount namespaces are unavailable."""
    if not shutil.which("unshare"):
        return []
    script = 'mount --bind "$0" /tmp && mount -t tmpfs -o size=512m perfbench /dev/shm && exec "$@"'
    prefix = ["unshare", "--mount", "--propagation", "private", "sh", "-c", script, tmp_root]
    try:
        ok = subprocess.run(prefix + ["true"], capture_output=True, timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        ok = False
    return prefix if ok else []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)

    tmp_root = os.path.abspath(os.path.join(WORK, "tmp"))
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(tmp_root)
    prefix = private_tmp(tmp_root)
    if not prefix:
        print("[perfbench] warning: no mount namespace; registry staging writes "
              "go to the system /tmp", file=sys.stderr)
    java = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp_root}",
             "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
             "perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--size", a.size, "--work", os.path.abspath(WORK),
             "--sha", git_sha(digest), "--src", digest[:12]])
    proc = subprocess.Popen(prefix + java, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        die(f"harness exited with {proc.returncode}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
