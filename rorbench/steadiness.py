#!/usr/bin/env python3
"""Run every workload once per seed and summarise each end-to-end metric:
median, quartiles, min/max and the quartile spread as a share of the median
(the figure compared against the metric's bound in BENCHMARK.json).

    python3 rorbench/steadiness.py --seeds 1-10 [--workload ror_weekly] [--seconds 20]

Prints one markdown table per workload; the raw result lines go to stderr.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        values, anchors, failed = {}, [], 0
        for seed in seeds(args.seeds):
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                  "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            print(f"{wl} seed {seed}: {' '.join(lines[-2:]) if lines else out.stderr[-500:]}", file=sys.stderr)
            if out.returncode != 0 or not lines:
                failed += 1
                continue
            res = json.loads(lines[-1])
            failed += res["failed"] + (not res["correct"])
            anchors.append(json.loads(lines[-2])["diagnostics"]["box_anchor_ms"])
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"\n### {wl} ({len(anchors)} runs, {failed} failed; box anchor "
              f"{min(anchors):.1f}-{max(anchors):.1f} ms)\n")
        print("| metric | median | q1 | q3 | min | max | spread | bound |")
        print("|---|---|---|---|---|---|---|---|")
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | {min(xs):.4g} | {max(xs):.4g} "
                  f"| {(q3 - q1) / med:.3f} | {bounds.get(k, '')} |")


if __name__ == "__main__":
    main()
