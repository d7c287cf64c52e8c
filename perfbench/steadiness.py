#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/steadiness.py --seeds 1-10 --seconds 20 --tag set1 [--workloads ...]

Runs every workload once per seed (untraced), and writes
`perfbench/receipts/steadiness-TAG.json` with each metric's values, median,
quartiles and spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. Each
spread is compared with a third of the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--tag", default="set1")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--against", default=None)
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    report = {}
    for w in workloads:
        values, walls, ok = {}, [], True
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                                 capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            ok = ok and last["correct"]
            for k, m in last["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: {walls[-1]:.0f} s, correct={last['correct']}", flush=True)
        rows = {}
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds[k], "within_third_of_bound": spread < bounds[k] / 3,
                       "values": v}
            print(f"{w} {k:18s} median {med:10.4g} spread {spread:6.3f} "
                  f"(bound/3 {bounds[k] / 3:.3f})", flush=True)
        report[w] = {"all_correct": ok, "run_wall_s": walls, "metrics": rows}
    if a.against:
        with open(os.path.join(HERE, "receipts", f"steadiness-{a.against}.json")) as f:
            other = json.load(f)
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for w, r in report.items():
            for k, row in r["metrics"].items():
                before = other[w]["metrics"][k]["median"]
                shift = (row["median"] - before) / before
                worse = shift if better[k] == "lower" else -shift
                row["against"] = {"set": a.against, "median": before, "shift": shift,
                                  "worse_within_bound": worse <= bounds[k]}
                print(f"{w} {k:18s} median {row['median']:10.4g} vs {before:10.4g} "
                      f"({shift:+.3f}, bound {bounds[k]})", flush=True)
    os.makedirs(os.path.join(HERE, "receipts"), exist_ok=True)
    with open(os.path.join(HERE, "receipts", f"steadiness-{a.tag}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
