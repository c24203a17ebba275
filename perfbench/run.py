#!/usr/bin/env python3
"""Run the ingest -> serve -> as-of read benchmark.

    python3 perfbench/run.py --workload <live_head|history_reads> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program under test
(src/main) together with the harness (perfbench/src) with sbt and packs the
classes into one jar. Later runs reuse the build until a source file
changes. Each run starts one JVM,
which bootstraps a store, drives the closed loop for --seconds and prints
one JSON line; this script prints that line last on its standard output.
Run data lives under perfbench/.runs/ and is deleted when the run ends,
except the traced run's spans (perfbench/.runs/traces/).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench-build.sha256")
RUNS = os.path.join(HERE, ".runs")

FIRST_RUN_LIMIT_S = 890  # a run that has to build first
RUN_LIMIT_S = 175        # every other run
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the repository's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to
    spark-submit on the PATH, else the directory the repository's own
    build names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    root_build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(root_build):
        with open(root_build) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    log("cannot find the Spark jars: set SPARK_HOME")
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (returncode, stdout) or (None, stdout) on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out


def build(deadline):
    """Compile with sbt and pack the jar, unless the last build saw the same
    sources. Returns True when it had to build."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(JAR):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       f"-Dperfbench.sparkJars={spark_jars()}", "compile"],
                      deadline - time.time(), cwd=HERE, env=env,
                      stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        log("build failed" if rc is not None else "build timed out")
        sys.exit(2)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, names in os.walk(CLASSES):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return True


def java_cmd(main, args, tmp):
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{JAR}{os.pathsep}{spark_jars()}/*", main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the reference model's hand-written cases and exit")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        log(f"the program's sources are missing ({os.path.relpath(PROGRAM_SRC, ROOT)}); "
            "run from the root of a full checkout")
        sys.exit(2)

    start = time.time()
    built = build(start + FIRST_RUN_LIMIT_S - 60)
    deadline = start + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)

    name = "self-test" if a.self_test else f"{a.workload}-s{a.seed}-t{a.trace}"
    rundir = os.path.join(RUNS, f"{name}-{os.getpid()}")
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(RUNS, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{name}.log")
    try:
        if a.self_test:
            cmd = java_cmd("graft.perfbench.ModelSelfTest", [], tmp)
        else:
            cmd = java_cmd("graft.perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--dir", rundir], tmp)
        with open(log_path, "w") as errf:
            rc, out = run_group(cmd, deadline - time.time(), cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=errf, text=True)
        with open(log_path) as fh:
            tail = fh.read().splitlines()
        for line in tail:
            if line.startswith(("perfbench:", "FAILED", "model self-test")):
                print(line, file=sys.stderr)
        if rc is None:
            log(f"run exceeded its time limit; log: {os.path.relpath(log_path, ROOT)}")
            sys.exit(1)
        if rc != 0:
            log(f"JVM exited with {rc}; last log lines:")
            for line in tail[-30:]:
                print(line, file=sys.stderr)
            sys.exit(rc)
        if a.self_test:
            print(out.strip())
            return
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = json.loads(lines[-1]) if lines else None
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            log("the JVM printed no result line")
            sys.exit(1)
        spans = os.path.join(rundir, "spans.json")
        if os.path.exists(spans):
            traces = os.path.join(RUNS, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(traces, f"{name}-spans.json"))
        print(json.dumps(result))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    main()
