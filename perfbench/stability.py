#!/usr/bin/env python3
"""Stability receipt for the benchmark: run every workload on several seeds
and record, per end-to-end metric, the median and the quartile spread
(q3 - q1) / median, as statistics.quantiles(values, n=4) gives them.

Run from the repository root:

    python3 perfbench/stability.py --seeds 1-10 --out perfbench/receipts/set-a.json
    python3 perfbench/stability.py --seeds 11-20 --out perfbench/receipts/set-b.json \\
        --compare perfbench/receipts/set-a.json

A spread must stay within the metric's bound in BENCHMARK.json (setup_s is
reported but exempt); with --compare, no metric's median may be worse than
the earlier set's by more than its bound. The exit code is 1 when a check
fails.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(cmd, workload, seed, seconds, log):
    t0 = time.time()
    with open(log or os.devnull, "w") as err:
        p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    window = json.loads(lines[-2])["detail"]["window"] if len(lines) > 1 else None
    ok = p.returncode == 0 and result is not None and result["correct"]
    return ok, result, window, time.time() - t0


def summarise(values, bound, better):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med, "bound": bound, "better": better}


def worse_by(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", default=None, help="comma list; default: all")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", default=None, help="an earlier receipt to compare medians with")
    ap.add_argument("--logs", default=None, help="directory for each run's stderr")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    if a.logs:
        os.makedirs(a.logs, exist_ok=True)
    seeds = seeds_of(a.seeds)

    receipt = {"command": bench["command"], "run_seconds": bench["run_seconds"],
               "seeds": seeds, "host_cpus": len(os.sched_getaffinity(0)),
               "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "workloads": {}}
    failures = []
    for w in workloads:
        values = {name: [] for name in metrics}
        walls, windows = [], []
        for s in seeds:
            log = os.path.join(a.logs, f"{w}-seed{s}.err") if a.logs else None
            ok, result, window, wall = run_once(bench["command"], w, s, bench["run_seconds"], log)
            walls.append(round(wall, 1))
            windows.append(window)
            if not ok:
                failures.append(f"{w} seed {s}: run failed or incorrect")
                continue
            for name in metrics:
                values[name].append(result["metrics"][name]["value"])
            print(f"{w} seed {s}: {wall:.0f} s", file=sys.stderr)
        summary = {name: summarise(v, metrics[name]["bound"], metrics[name]["better"])
                   for name, v in values.items() if len(v) >= 2}
        receipt["workloads"][w] = {"wall_s": walls, "window": windows, "metrics": summary}
        for name, m in summary.items():
            if name != "setup_s" and m["spread"] > m["bound"]:
                failures.append(f"{w} {name}: spread {m['spread']:.4f} > bound {m['bound']}")
            print(f"{w:14s} {name:18s} median {m['median']:10.4f}  spread {m['spread']:.4f}"
                  f"  (bound {m['bound']}, third {m['bound'] / 3:.4f})", file=sys.stderr)

    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)
        receipt["compared_with"] = os.path.relpath(a.compare, ROOT)
        for w, wr in receipt["workloads"].items():
            for name, m in wr["metrics"].items():
                e = earlier["workloads"].get(w, {}).get("metrics", {}).get(name)
                if e is None:
                    continue
                d = worse_by(e["median"], m["median"], m["better"])
                m["worse_than_compared_by"] = d
                if d > m["bound"]:
                    failures.append(f"{w} {name}: median worse by {d:.4f} > bound {m['bound']}")
    receipt["failures"] = failures
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(receipt, f, indent=1)
        f.write("\n")
    for line in failures:
        print("FAIL " + line, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
