#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [harness options]

Run from the root of a checkout. Builds the program and the harness from
source with sbt (once per source state), then runs the harness JVM
(`perfbench.Main`) and prints its result JSON as the last line of stdout.
Exits non-zero, without a result, when the program's sources are absent,
the build fails, the harness fails, or its output check fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
OUT = os.path.join(BENCH, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building program and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()

    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"program sources not found: {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
        sys.exit(2)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # C1 only: C2's compile queue stays backlogged for longer than a run, so
    # with it every pass ran on a different mix of compiled code. A fixed
    # heap: G1 shrank it after the full GCs between passes, and the next pass
    # then sometimes collected back to back. Compiler threads that live as
    # long as the JVM, so the harness can leave their CPU out.
    cmd += ["-XX:TieredStopAtLevel=1", "-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dsun.net.httpserver.nodelay=true", f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace] + extra
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"harness did not finish within {RUN_TIMEOUT_S} s")
        sys.exit(3)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(stdout[-4000:])
        log(f"harness exited {proc.returncode} without a result")
        sys.exit(proc.returncode or 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result: {lines[-1][:200]}")
        sys.exit(5)
    if proc.returncode != 0 or not result["correct"]:
        log(f"output check failed (exit {proc.returncode}): {lines[-1][:300]}")
        sys.exit(proc.returncode or 1)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
