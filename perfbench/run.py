#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload acorn_point --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt (about a minute); later runs reuse that
build while the sources are unchanged and start the JVM directly.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The exit code is 0 only when every operation
succeeded and every answer matched its independently computed ground truth.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
TARGET = HERE / "target"
WORKLOADS = ("acorn_point", "acorn_batch", "curation")
JVM_BUDGET_S = 170
BUILD_BUDGET_S = 840
# fixed heap: with a heap that grows on demand, latencies varied with the
# collector's sizing decisions; memory is measured as the heap retained
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the library, its build, and the benchmark."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return [p for p in files if p.is_file()]


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build(stamp):
    """Compile graft and the benchmark with sbt and record the runtime classpath."""
    stamp_file, cp_file = TARGET / "build.stamp", TARGET / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail(3, "sbt not found on PATH; it is needed to build the benchmark")
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    # sbt's own global state goes under the work dir, not the home directory
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={WORK / 'sbt-global'}",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "writeClasspath"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not cp_file.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(3, f"build failed (exit {rc}); full log in {log}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def commit_id(stamp):
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + stamp[:16]


def expected_metrics(bench, traced):
    key = "per_layer" if traced else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(2, f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala)")
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail(2, f"{bench_file} is missing")
    expected = expected_metrics(json.loads(bench_file.read_text()), args.trace == 1)

    stamp = fingerprint()
    classpath = build(stamp)

    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    if java is None:
        fail(3, "java not found")
    cores = len(os.sched_getaffinity(0))
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--work", str(work),
            "--result", str(result), "--commit", commit_id(stamp)]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    deadline = time.monotonic() + JVM_BUDGET_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    timer = threading.Timer(JVM_BUDGET_S, kill)
    timer.daemon = True
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
    if time.monotonic() >= deadline:
        fail(4, f"the run took longer than {JVM_BUDGET_S} s and was stopped")
    if not result.is_file():
        fail(1, f"the benchmark JVM exited with {rc} and wrote no result")

    res = json.loads(result.read_text())
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if res["correct"] and got != expected:
        fail(5, f"metrics differ from BENCHMARK.json: missing {sorted(set(expected) - set(got))}, "
                f"extra {sorted(set(got) - set(expected))}, units {[(k, got[k], expected[k]) for k in expected if k in got and got[k] != expected[k]]}")
    line = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))
    sys.exit(0 if rc == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
