#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--seconds N]

Runs the benchmark once per seed on each workload (untraced, one after the
other) and prints, per end-to-end metric of BENCHMARK.json, the median and
the spread: the distance between the first and third quartile of the runs
(`statistics.quantiles(values, n=4)`) as a share of the median, next to the
metric's bound. Run from the root of the checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--log", help="append each run's detail and result lines to this file")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        values = {name: [] for name in bounds}
        took = []
        for seed in args.seeds:
            t0 = time.time()
            out = subprocess.run(bench["command"] + ["--workload", wl, "--seed", str(seed),
                                 "--seconds", str(args.seconds), "--trace", "0"],
                                 capture_output=True, text=True)
            took.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit(f"{wl} seed {seed} failed:\n{out.stderr[-3000:]}")
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if args.log:
                with open(args.log, "a") as f:
                    f.write(lines[-2] + "\n" + lines[-1] + "\n")
            if not result["correct"]:
                ok = False
                print(f"{wl} seed {seed}: correct=false, failed={result['failed']}")
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
        print(f"== {wl}: {len(args.seeds)} runs, {statistics.median(took):.1f} s median "
              f"per run, {max(took):.1f} s max")
        for name, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            print(f"  {name:18s} median {med:10.4f}  spread {spread:6.3f}  bound {bounds[name]}"
                  f"  values {[round(x, 4) for x in xs]}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
