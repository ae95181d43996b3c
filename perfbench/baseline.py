#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/baseline.py --seeds 1-10 --seconds 12 \
        --out perfbench/baseline.json

For each workload: ``--seeds`` untraced runs (median, quartiles and the
quartile spread of every end-to-end metric) and one traced run (the
per-layer table). Prints a markdown summary; the raw JSON lines go to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["extract_resident", "extract_tiled", "curate_warc"]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600,
                         cwd=os.path.dirname(HERE))
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["invocation_s"] = time.perf_counter() - t0
    return result


def seeds_arg(s: str) -> list[int]:
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(results: dict) -> str:
    lines = ["| workload | metric | unit | median | q1 | q3 "
             "| (q3-q1)/median |",
             "|---|---|---|---|---|---|---|"]
    for wl, res in results.items():
        for name in res["untraced"][0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in res["untraced"]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            unit = res["untraced"][0]["metrics"][name]["unit"]
            lines.append(f"| {wl} | {name} | {unit} | {med:.4g} | {q1:.4g} "
                         f"| {q3:.4g} | {(q3 - q1) / med:.3f} |")
        walls = [r["invocation_s"] for r in res["untraced"]]
        lines.append(f"| {wl} | invocation wall | s | "
                     f"{statistics.median(walls):.4g} | {min(walls):.4g} "
                     f"(min) | {max(walls):.4g} (max) | |")
    traced = {wl: r["traced"]["metrics"] for wl, r in results.items()}
    lines.append("")
    for wl, m in traced.items():
        selfs = {n[:-len(".self_s")]: v["value"] for n, v in m.items()
                 if n.endswith(".self_s")}
        top = max(selfs, key=selfs.get)
        lines.append(f"- {wl}: dominant layer `{top}` "
                     f"({selfs[top]:.2f} s self time); tracing overhead "
                     f"{m['trace.overhead']['value']:+.3f}")
    lines += ["", "| layer metric | unit | " + " | ".join(traced) + " |",
              "|---|---|" + "---|" * len(traced)]
    first = next(iter(traced.values()))
    for name, m in first.items():
        vals = [traced[wl][name]["value"] for wl in traced]
        if any(vals):
            lines.append(f"| {name} | {m['unit']} | "
                         + " | ".join(f"{v:.4g}" for v in vals) + " |")
    return "\n".join(lines)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--workloads", default=",".join(WORKLOADS))
    p.add_argument("--out", required=True)
    args = p.parse_args()
    results = {}
    for wl in args.workloads.split(","):
        results[wl] = {
            "untraced": [run_once(wl, s, args.seconds, 0)
                         for s in args.seeds],
            "traced": run_once(wl, args.seeds[0], args.seconds, 1)}
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    print(summary(results))


if __name__ == "__main__":
    main()
