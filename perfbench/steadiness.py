#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's spread.

    python3 perfbench/steadiness.py --workload catalog --seeds 101-110 [--out FILE]

Spread is the distance between the first and third quartile of the runs'
values (statistics.quantiles, n=4) as a share of their median, the figure
each bound in BENCHMARK.json is compared with. With --out, the runs and
the summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs):
    out = {}
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        out[name] = {"median": med, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: rc={p.returncode}\n{p.stderr}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r.update(seed=s, wall_s=round(time.time() - t, 1))
        runs.append(r)
        print(json.dumps(r), flush=True)
    summary = summarize(runs)
    for name, m in summary.items():
        print(f"{a.workload} {name:16s} median {m['median']:12.3f} spread {m['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": a.seconds, "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
