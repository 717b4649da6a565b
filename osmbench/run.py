#!/usr/bin/env python3
"""OSM import/append benchmark of the graft engine.

Run from the repository root:

    python3 osmbench/run.py --workload import-pg --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark from source on first use (into
.bench_build/), then runs one workload in a fresh JVM. The JVM's report
lines go to standard output; the last line is one JSON object with the
keys correct, attempted, failed and metrics. `--workload all` runs every
workload in turn and ends with one JSON object over all of them.
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

WORKLOADS = ["import-pg", "import-flex-lua", "append-classic"]
BENCH_DIR = "osmbench"
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# a fixed young generation: G1 would otherwise resize it after the full
# collection before each timed call, and the after-GC heap peak would
# follow that sizing
YOUNG = "512m"
LOG_TAIL_LINES = 40

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, log_path=None):
    """Exit with code 2; a failed run's log tail goes to stderr first."""
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-LOG_TAIL_LINES:]
        sys.stderr.write(f"--- last {len(tail)} lines of {log_path}\n")
        sys.stderr.writelines(tail)
    print(f"osmbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    bench = os.path.join(root, BENCH_DIR)
    files = [os.path.join(bench, "build.sbt"),
             os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(root, *tasks, stdout=subprocess.PIPE):
    """Run sbt tasks on the benchmark's build, offline, with every sbt
    directory under .bench_build/."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = [
        "sbt", "--batch", "-Dsbt.log.noformat=true",
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true",
        # sbt's socket paths lie below the checkout and, under a long
        # checkout path, do not fit the unix socket-name limit: go on
        # without the boot socket and start no client server
        "-Dsbt.server.forcestart=true", "-Dsbt.server.autostart=false",
        "-Dsbt.global.base=" + os.path.join(out, "sbt-global"),
        "-Dsbt.boot.directory=" + os.path.join(out, "sbt-boot"),
        "-Dsbt.ivy.home=" + os.path.join(out, "ivy"),
        "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
        "-Djna.tmpdir=" + os.path.join(out, "tmp"),
    ] + list(tasks)
    return subprocess.run(cmd, cwd=os.path.join(root, BENCH_DIR),
                          env=dict(os.environ, COURSIER_MODE="offline",
                                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
                                   TMPDIR=os.path.join(out, "tmp")),
                          stdout=stdout, stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_TIMEOUT_S)


def build(root):
    """Compile with sbt once per source state; return the classpath."""
    out = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    p = sbt(root, "compile", "export Runtime/fullClasspath")
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        log.write(p.stdout)
    cp = [l.strip() for l in p.stdout.splitlines()
          if "scala-2.13" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (rc={p.returncode}); see {log_path}", log_path)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def stop_postgres(work):
    """Stop a server a killed JVM left running."""
    data = os.path.join(work, "pg", "data")
    if os.path.exists(os.path.join(data, "postmaster.pid")):
        subprocess.run(["setpriv", "--reuid=postgres", "--regid=postgres",
                        "--clear-groups", "--inh-caps=+dac_read_search",
                        "--ambient-caps=+dac_read_search",
                        "pg_ctl", "-D", data, "-m", "immediate", "-w", "stop"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=60)


def run_workload(root, cp, a, workload):
    """Run one workload in a JVM; return (report lines, result dict)."""
    work = os.path.join(root, BUILD_DIR, "run")
    stop_postgres(work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "osmbench.Bench", "--workload", workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--lua", os.path.join(root, BENCH_DIR, "flex-bench.lua")])
    log_path = os.path.join(root, BUILD_DIR, f"{workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                             text=True,
                             env=dict(os.environ, TMPDIR=os.path.join(work, "tmp")))

        def stop(reason):
            p.kill()
            p.wait()
            stop_postgres(work)
            fail(f"{workload}: {reason}; see {log_path}", log_path)

        signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(f"no result within {RUN_TIMEOUT_S} s")
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    stop_postgres(work)
    # the result is the last line that parses as a JSON object; report
    # lines and anything printed after it are kept as report lines
    lines = stdout.rstrip("\n").splitlines()
    result, at = None, None
    for i in range(len(lines) - 1, -1, -1):
        try:
            result, at = json.loads(lines[i]), i
            break
        except ValueError:
            continue
    if p.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(stdout)
        fail(f"{workload}: exit code {p.returncode}, no result; see {log_path}",
             log_path)
    return lines[:at] + lines[at + 1:], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--test", action="store_true",
                    help="run the generator's tests instead of a workload")
    a = ap.parse_args()
    if not a.test and (a.workload is None or a.seed is None):
        ap.error("--workload and --seed are required")

    root = os.getcwd()
    for need in ("src/main/scala/graft/cli/Main.scala", f"{BENCH_DIR}/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    if a.test:
        sys.exit(sbt(root, "test", stdout=None).returncode)
    t0 = time.time()
    cp = build(root)
    print(f"[osmbench] build ready in {time.time() - t0:.1f} s")

    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in workloads:
        lines, results[w] = run_workload(root, cp, a, w)
        print("\n".join(lines), flush=True)
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
