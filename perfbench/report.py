#!/usr/bin/env python3
"""Traced-run report: per-layer metrics and self time for every workload.

    python3 perfbench/report.py [--seed 1] [--seconds 8] [--out perfbench/REPORT.md]

Runs `run.py --trace 1` once per workload in BENCHMARK.json, once for the
report-only `ingest_trickle` workload, and once more for each ingest
workload at `--cpus 1` (the single-threaded baseline, recorded but not
gated). Writes a markdown table of every per-layer metric, the self time
of each layer, and the tracing overhead (the traced phase against the mean
of the untraced phases before and after it in the same run).
"""
import argparse
import json
import os
import platform
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def traced_run(workload, seed, seconds, cpus):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1", "--cpus", str(cpus)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} (cpus={cpus}) failed with exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) and v != int(v) else f"{int(v)}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=os.path.join(BENCH, "REPORT.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    runs = [(w["name"], 4) for w in bench["workloads"]] + [("ingest_trickle", 4)]
    runs += [(w, 1) for w, _ in runs if w.startswith("ingest_")]
    results = {}
    for w, cpus in runs:
        print(f"[report] {w} cpus={cpus}", file=sys.stderr, flush=True)
        results[f"{w}@{cpus}"] = traced_run(w, args.seed, seconds, cpus)
    with open(os.path.join(BENCH, "out", "report.json"), "w") as fh:
        json.dump(results, fh, indent=1)

    cols = list(results)
    names = sorted({k for r in results.values() for k in r["metrics"]})
    layers = ["streaming", "nlp", "es", "query", "spark", "bench"]
    lines = [
        "# Traced-run report",
        "",
        f"`python3 perfbench/report.py --seed {args.seed} --seconds {seconds}` on "
        f"{os.cpu_count()} CPUs ({platform.processor() or platform.machine()}), "
        "each column one traced run. `@4` is `local[4]`; `@1` is the single-threaded "
        "`local[1]` baseline (recorded, not gated). `ingest_trickle` is report-only. "
        "Every number is from the traced phase of the run; a layer a workload does not "
        "exercise reads 0.",
        "",
        "## Self time per layer (s)",
        "",
        "Each instant of the traced phase goes to the deepest layer with a span open "
        "(nlp/es > spark job > query or streaming trigger); `bench` is time no span covers.",
        "",
        "| layer | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for l in layers:
        lines.append(f"| {l} | " + " | ".join(fmt(results[c]["metrics"][f"self.{l}_s"]["value"]) for c in cols) + " |")
    lines += [
        "",
        "## Tracing overhead",
        "",
        "(traced − untraced) / untraced, where untraced is the mean of the untraced phases "
        "run just before and just after the traced one in the same run.",
        "",
        "| metric | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for k in ("trace.overhead_pass_cpu_s", "trace.overhead_step_cpu_ms"):
        lines.append(f"| {k} | " + " | ".join(fmt(results[c]["metrics"][k]["value"]) for c in cols) + " |")
    lines += ["", "## Every per-layer metric", "", "| metric | unit | " + " | ".join(cols) + " |",
              "|---|---|" + "---|" * len(cols)]
    for k in names:
        unit = next(r["metrics"][k]["unit"] for r in results.values() if k in r["metrics"])
        lines.append(f"| {k} | {unit} | " + " | ".join(
            fmt(results[c]["metrics"][k]["value"]) if k in results[c]["metrics"] else "" for c in cols) + " |")
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"[report] wrote {os.path.relpath(args.out, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    main()
