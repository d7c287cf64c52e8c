#!/usr/bin/env python3
"""Counter repeatability and tracing overhead, per workload.

    python3 perfbench/receipt.py --seed 1 --seconds 20 --pairs 3 [--workloads entries_tpch,wire_mixed]

For each workload it makes `--pairs` pairs of one untraced and one traced
run with the same seed, alternating which of the two goes first, then writes
`perfbench/receipts/receipt.json`:

- `counters`: every exact counter of every traced op, compared between the
  first two traced runs. A counter that differs in any op is listed under
  `not_claimable`: a later change may not rest a count claim on it.
- `tracing_overhead`: for every end-to-end metric, the median of the traced
  runs minus the median of the untraced ones, with both sides' ranges. The
  overhead counts as `resolved` only where the two ranges do not overlap;
  otherwise it is within the run-to-run spread at this sample size.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ["jobs", "stages", "tasks", "tasks_ok", "scan_bytes", "scan_rows",
         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(".bench_build", "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def op_counters(res):
    """Exact counters per traced op: the timed entries, or the wire replay."""
    wire = res["env"]["workload"] == "wire_mixed"
    traced = {o["op"] for o in res["ops"] if o["phase"] == ("replay" if wire else "timed")}
    per_op = res["counters"]["per_op"]
    out = {}
    for op in sorted(traced):
        c = {k: per_op[op][k] for k in EXACT}
        c["build_jobs"] = res["counters"]["build_jobs"].get(op, 0)
        out[op] = c
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workloads", default="entries_tpch,wire_mixed")
    ap.add_argument("--pairs", type=int, default=3)
    a = ap.parse_args()
    report = {}
    for w in a.workloads.split(","):
        plain, traced = [], []
        for i in range(a.pairs):
            for t in ((0, 1) if i % 2 == 0 else (1, 0)):
                (traced if t else plain).append(run(w, a.seed, a.seconds, t))
        c1, c2 = op_counters(traced[0]), op_counters(traced[1])
        diffs = {}
        for op in sorted(set(c1) | set(c2)):
            for k in set(c1.get(op, {})) | set(c2.get(op, {})):
                x, y = c1.get(op, {}).get(k), c2.get(op, {}).get(k)
                if x != y:
                    diffs.setdefault(k, []).append({"op": op, "run1": x, "run2": y})
        keys = sorted({k for c in c1.values() for k in c})
        overhead = {}
        for m, unit in ((m, v["unit"]) for m, v in plain[0]["end_to_end"].items()):
            u = [r["end_to_end"][m]["value"] for r in plain]
            t = [r["end_to_end"][m]["value"] for r in traced]
            overhead[m] = {
                "untraced_median": statistics.median(u), "untraced_range": [min(u), max(u)],
                "traced_median": statistics.median(t), "traced_range": [min(t), max(t)],
                "traced_minus_untraced": statistics.median(t) - statistics.median(u),
                "resolved": min(t) > max(u) or max(t) < min(u), "unit": unit}
        report[w] = {
            "env": traced[0]["env"],
            "pairs": a.pairs,
            "ops_compared": len(set(c1) & set(c2)),
            "counters": {"repeat_exactly": [k for k in keys if k not in diffs],
                         "not_claimable": {k: v[:10] for k, v in sorted(diffs.items())},
                         "totals_run1": {k: sum(c[k] for c in c1.values()) for k in keys}},
            "tracing_overhead": overhead,
            "per_layer_run1": {k: v["value"] for k, v in traced[0]["per_layer"].items()},
            "self_ms_run1": traced[0]["self_ms"],
        }
        r = report[w]
        print(f"{w}: {r['ops_compared']} ops; exact: {', '.join(r['counters']['repeat_exactly'])}; "
              f"not claimable: {', '.join(r['counters']['not_claimable']) or 'none'}")
        for m, o in r["tracing_overhead"].items():
            print(f"{w}: overhead {m:18s} {o['traced_minus_untraced']:+.4g} {o['unit']} "
                  f"(untraced {o['untraced_median']:.4g} in {o['untraced_range']}, traced "
                  f"{o['traced_median']:.4g} in {o['traced_range']}"
                  f"{'' if o['resolved'] else ', ranges overlap: not resolved'})")
    os.makedirs(os.path.join(HERE, "receipts"), exist_ok=True)
    with open(os.path.join(HERE, "receipts", "receipt.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
