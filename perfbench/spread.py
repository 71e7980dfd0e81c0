#!/usr/bin/env python3
"""Run one workload once per seed and report each metric's median and spread.

Usage (from the repository root):

  python3 perfbench/spread.py --workload queue_lifecycle --seeds 1-10 [--seconds 15] [--trace 0] [--out FILE]

Spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. With --out the
runs and the summary are written as JSON (the format of baseline_local4.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs):
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for s in seeds(args.seeds):
        res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(s), "--seconds", str(args.seconds), "--trace", str(args.trace)],
                             stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            raise SystemExit(f"seed {s}: run failed ({res.returncode})")
        lines = res.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result["seed"] = s
        result["named"] = json.loads(lines[-2])["named"]
        runs.append(result)
        print(f"seed {s}: correct={result['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    summary = summarize(runs)
    for name, m in summary.items():
        print(f"{name:32s} median {m['median']:12.4f} {m['unit']:6s} spread {m['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
