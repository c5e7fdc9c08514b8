"""Repeat a workload over several seeds and print each metric's median,
quartiles and spread (quartile distance / median), as used to set the
bounds in BENCHMARK.json.

    python3 perfbench/repeat.py --workload crawl_wide --runs 10 [--first-seed 1]
                                [--seconds 30] [--trace 0]

Runs are sequential, one process each. With --trace 1 the summary also
gives the tracing overhead: the traced runs' end-to-end figures (from their
trace files) minus the medians of the last untraced summary of the same
workload. Summaries are kept under .perfbench_runs/.
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
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(per_metric: dict[str, list[float]]) -> dict:
    out = {}
    for name, vals in per_metric.items():
        q1, med, q3 = quartiles(vals)
        out[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(vals),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    per_metric: dict[str, list[float]] = {}
    e2e: dict[str, list[float]] = {}
    shares, stamps = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.time() - t0
        stamp = next(
            (ln.split("loadavg ", 1)[1] for ln in p.stderr.splitlines()
             if ln.startswith("perfbench: loadavg")), "?",
        )
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(p.stderr[-3000:], file=sys.stderr)
        shares.append(res["failed"] / res["attempted"])
        stamps.append(stamp)
        for k, v in res["metrics"].items():
            per_metric.setdefault(k, []).append(v["value"])
        if args.trace:
            with open(os.path.join(RUNS, "traces", f"{args.workload}-s{seed}.json")) as f:
                for k, v in json.load(f)["end_to_end"].items():
                    e2e.setdefault(k, []).append(v["value"])
        print(
            f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} wall={wall:.1f}s loadavg={stamp} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                       if not args.trace),
            flush=True,
        )

    summary = {
        "workload": args.workload, "trace": args.trace, "seconds": seconds,
        "seeds": [args.first_seed, args.first_seed + args.runs - 1],
        "failed_shares": sorted(set(shares)), "loadavg": stamps,
        "metrics": summarize(per_metric),
    }
    untraced_path = os.path.join(RUNS, f"repeat-{args.workload}-trace0.json")
    if args.trace and os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)["metrics"]
        traced = summarize(e2e)
        summary["overhead"] = {
            k: {"traced": traced[k]["median"], "untraced": base[k]["median"],
                "diff": traced[k]["median"] - base[k]["median"]}
            for k in traced if k in base
        }
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"repeat-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)

    print(f"\n{'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
    for k, s in summary["metrics"].items():
        print(f"{k:44s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} {s['spread']:7.3f}")
    for k, o in summary.get("overhead", {}).items():
        print(f"overhead {k}: traced {o['traced']:.4f} - untraced {o['untraced']:.4f} = {o['diff']:+.4f}")
    print(f"failed shares: {summary['failed_shares']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
