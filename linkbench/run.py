#!/usr/bin/env python3
"""Link-graph benchmark for the graft engine.

Run from the repository root:

    python3 linkbench/run.py --workload chains-small --seed 1 --seconds 10 --trace 0

It compiles the engine and the benchmark from source (once per source
digest, with sbt in offline mode), then starts one JVM that generates the
workload's seeded transcripts, builds the link graph, runs the workload's
algorithms in a closed loop for --seconds, checks their outputs, and prints
two lines on stdout: the run's metadata, then the result object
{"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes the spans as
JSONL under .bench_build/linkbench/trace/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "linkbench")

XMX = "2g"
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 890

# Spark on JDK 17 needs these when started outside spark-submit; the
# engine's build.sbt passes the same list to its forked JVMs.
ADD_OPENS = [
    a for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

child = None


def log(msg):
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


def stop_child(*_):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(130)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    files = ["build.sbt", "project/build.properties",
             "linkbench/build.sbt", "linkbench/project/build.properties"]
    for top in ("src/main", "linkbench/src"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            files += sorted(os.path.relpath(os.path.join(d, n), ROOT) for n in names)
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt and record the runtime classpath for this digest."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        log("build failed")
        sys.exit(3)
    with open(os.path.join(HERE, "target", "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(WORK, "classpath.txt"), "w") as fh:
        fh.write(cp)
    with open(os.path.join(WORK, "classpath.digest"), "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    global child
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("run from the repository root: the engine's build.sbt and sources are missing")
        sys.exit(2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            log(f"{tool} not found on PATH")
            sys.exit(2)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)

    digest = source_digest()
    stamp = os.path.join(WORK, "classpath.digest")
    built_now = False
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        with open(os.path.join(WORK, "classpath.txt")) as fh:
            cp = fh.read().strip()
    else:
        cp = build(digest)
        built_now = True

    cmd = [shutil.which("java"), *ADD_OPENS, f"-Xmx{XMX}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "linkbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--git-sha", git_sha() or "none",
           "--source-digest", digest]
    limit = (FIRST_RUN_TIMEOUT_S if built_now else RUN_TIMEOUT_S) - (time.time() - t0)
    child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             start_new_session=True, text=True)
    try:
        out, _ = child.communicate(timeout=max(limit, 1))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        log(f"run exceeded {limit:.0f} s and was stopped")
        sys.exit(4)
    lines = [l for l in out.splitlines() if l.strip()]
    if child.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        log(f"benchmark JVM exited with code {child.returncode} without a result")
        sys.exit(child.returncode or 1)
    print("\n".join(lines[-2:]), flush=True)
    log(f"done in {time.time() - t0:.1f} s")


if __name__ == "__main__":
    main()
