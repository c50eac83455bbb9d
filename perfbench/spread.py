#!/usr/bin/env python3
"""Run workloads over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), and optionally one traced run
per workload with its tracing overhead (traced minus untraced median, as a
share of the untraced median).

    python3 perfbench/spread.py --workloads ingest_burst,batch_suite \
        --runs 10 --seed0 100 --traced --out perfbench/results/spread.json

Run from the root of a source checkout, like run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def one(workload, seed, seconds, trace, cores=4):
    side = os.path.join(os.getcwd(), ".bench_run", "sidecar-%d.json" % os.getpid())
    os.makedirs(os.path.dirname(side), exist_ok=True)
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    if trace:
        cmd += ["--sidecar", side]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit("%s seed %d failed (exit %d)" % (workload, seed, p.returncode))
    line = json.loads(p.stdout.strip().splitlines()[-1])
    if trace:
        with open(side) as f:
            line["sidecar"] = json.load(f)
        os.remove(side)
    return line


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="ingest_burst,ingest_paced,batch_suite")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--single-core", action="store_true",
                    help="also one traced run at local[1], the single-threaded baseline")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        rep = {}
        if args.runs:
            lines = [one(w, args.seed0 + i, args.seconds, 0) for i in range(args.runs)]
            rep = {"correct": all(l["correct"] for l in lines),
                   "failed": sum(l["failed"] for l in lines),
                   "metrics": {n: summary([l["metrics"][n]["value"] for l in lines])
                               for n in lines[0]["metrics"]}}
            for n, s in rep["metrics"].items():
                print("%-14s %-18s median %12.3f  spread %.3f" % (
                    w, n, s["median"], s["spread"]), file=sys.stderr)
        if args.traced:
            t = one(w, args.seed0, args.seconds, 1)
            rep["traced"] = t
            if args.runs:
                e2e = t["sidecar"]["e2e"]
                rep["tracing_overhead"] = {
                    n: (e2e[n] - m["median"]) / m["median"]
                    for n, m in rep["metrics"].items()}
        if args.single_core:
            rep["traced_local1"] = one(w, args.seed0, args.seconds, 1, cores=1)
        report[w] = rep
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
