#!/usr/bin/env python3
"""Run one workload once per seed and summarize each metric's spread.

    python3 perfbench/spread.py --workload online_read --seeds 1-10 [--trace 1] [--out summary.json]

Run it from the repository root. For every metric it prints the median,
the first and third quartiles (statistics.quantiles, n=4) and the
interquartile distance as a share of the median: the figure the benchmark's
bounds are judged against. With --out it also writes the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        secs = json.load(fh)["run_seconds"]

    runs = []
    for s in seeds(a.seeds):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {out.returncode}")
        runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
        print(f"seed {s}: correct={runs[-1]['correct']} failed={runs[-1]['failed']}", flush=True)

    summary = {"workload": a.workload, "seeds": a.seeds, "seconds": secs, "trace": a.trace,
               "failed": [r["failed"] for r in runs], "metrics": {}}
    for name, m in runs[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary["metrics"][name] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                                    "spread": (q3 - q1) / med if med else 0.0, "values": vals}
        print(f"  {name:34s} median {med:12.6g} {m['unit']:6s} q1 {q1:12.6g} q3 {q3:12.6g}"
              f"  spread {summary['metrics'][name]['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
