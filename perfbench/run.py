#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload {analytics,etl} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. On first use it builds the engine and the
benchmark from source with sbt (offline) and keeps the classpath in
perfbench/target; later runs start one JVM directly. The JVM prints a run
record (environment, workload readings, raw per-operation times) and then
the result; the result is always the last stdout line. With --trace 1 the
workload runs twice with the same seed, untraced and then traced, and the
result holds the per-layer metrics plus the tracing overhead (traced minus
untraced end-to-end figures). Every run record is appended to
.perfbench_out/runs.jsonl, and traced runs leave their spans there.
Exit status: 0 when every output was correct, 1 otherwise, 2 when the
engine's sources are missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
BUILD_TIMEOUT_S = 600  # a first run, build included, must end within 900 s
RUN_LIMIT_S = 170  # a built run must end within 180 s
HEAP = "3g"  # fixed size (-Xms = -Xmx), so the resident set is steady
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, for staleness and the source digest."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_id():
    """The commit when the checkout is a git repository, else a digest of
    the sources, so a run record always names the code it measured."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        if head.returncode == 0:
            return head.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def build_if_needed():
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in source_files()):
            return
    log("building the engine and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (status {rc})")
        sys.exit(1)


def stop(proc):
    """Kill the process group of `proc` and wait until it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(args, trace, deadline):
    """One JVM run; returns (record, result) parsed from its stdout, either
    None when the run produced none."""
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no hsperfdata file in the system temp dir: a run writes only
           # inside the checkout
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
            "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--work", work, "--out", OUT])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopped")
        stop(proc)
        out = ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = result = None
    for line in out.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        obj = json.loads(line)
        if "record" in obj:
            record = obj["record"]
        elif "correct" in obj:
            result = obj
    return record, result


def keep(record):
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log(f"no engine sources under {ROOT}; run from the repository root")
        sys.exit(2)

    build_if_needed()
    deadline = time.monotonic() + RUN_LIMIT_S
    commit = source_id()
    runs = [0, 1] if args.trace else [0]
    records, result = [], None
    for trace in runs:
        record, result = run_jvm(args, trace, deadline)
        if record is None or result is None:
            log("the run printed no result")
            sys.exit(1)
        record["env"]["commit"] = commit
        record["result"] = result
        keep(record)
        records.append(record)
        print(json.dumps({"record": record}, sort_keys=True))
        if not result["correct"]:
            break
    if args.trace and result["correct"]:
        plain, traced = records[0]["end_to_end"], records[1]["end_to_end"]
        for name in ("setup_s", "timed_total_s"):
            result["metrics"][f"trace.overhead_{name}"] = {
                "value": traced[name] - plain[name], "unit": "s"}
    print(json.dumps(result, sort_keys=True), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
