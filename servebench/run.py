#!/usr/bin/env python3
"""Served-catalog benchmark: build, then run one workload.

Builds the catalog and the benchmark from source with sbt (once per source
state), then runs one workload in a fresh JVM:

    python3 servebench/run.py --workload read_search --seed 1 --seconds 20 --trace 0

The last line of stdout is the result object {"correct", "attempted",
"failed", "metrics"}. `--workload all` runs every workload in turn and prints
their tables. See servebench/README.md for the metrics and workloads.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
# Class-data archive of the classes a run loads: it cuts JVM and Spark start-up
# by several seconds a run. Built once per build by a short training run.
ARCHIVE = os.path.join(TARGET, "servebench.jsa")
WORKLOADS = ["read_search", "point_get", "mixed_rw"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540
HEAP = "768m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"servebench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the catalog's build and sources, and the benchmark's."""
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classpath was built from these sources."""
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("servebench: sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building (sbt writeClasspath)")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"servebench: build failed (sbt exit {r.returncode})")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("training run for the class-data archive")
    code = run_one("point_get", 0, 1, 0, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], sys.stderr)
    if code != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit(f"servebench: training run failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(want)


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def run_one(workload, seed, seconds, trace, jvm_args=None, stdout=None):
    """Runs one workload in its own JVM; returns its exit code."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_args is None:
        jvm_args = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    # JVM log lines go to stderr: the last line of stdout is the result
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_args
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.servebench.ServeBench", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", os.path.join(HERE, "out"), "--commit", commit()]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=stdout)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload}: no result within {RUN_TIMEOUT_S} s; stopping the JVM")
        proc.kill()
        proc.wait()
        return 124
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no catalog sources under {ROOT}/src/main/scala; run from a checkout of the repository")
        return 2
    build()
    if a.workload != "all":
        return run_one(a.workload, a.seed, a.seconds, a.trace)
    codes = [run_one(w, a.seed, a.seconds, a.trace) for w in WORKLOADS]
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
