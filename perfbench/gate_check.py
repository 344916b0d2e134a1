#!/usr/bin/env python3
"""Shows the benchmark's correctness gate bites.

    python3 perfbench/gate_check.py

Each case must exit non-zero and print no result line:
  - `mix` with one committed digest corrupted (`--inject corrupt-digest`);
  - `ingest_backlog` with the ES stub silently losing one acknowledged
    document (`--inject drop-es-doc`).
"""
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def expect_failure(label, cmd, cwd):
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    printed = [l for l in p.stdout.splitlines() if l.startswith("{")]
    ok = p.returncode != 0 and not printed
    print(f"{'PASS' if ok else 'FAIL'} {label}: exit {p.returncode}, result printed: {bool(printed)}")
    if not ok:
        sys.stderr.write(p.stderr[-2000:])
    return ok


def main():
    run = [sys.executable, os.path.join(BENCH, "run.py"), "--seed", "1", "--seconds", "1", "--trace", "0"]
    ok = expect_failure("corrupted digest", run + ["--workload", "mix", "--inject", "corrupt-digest"], ROOT)
    ok &= expect_failure("dropped ES document",
                         run + ["--workload", "ingest_backlog", "--inject", "drop-es-doc"], ROOT)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
