#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the interquartile range as a share of
the median (statistics.quantiles(values, n=4)).

    python3 perfbench/steadiness.py --workload ingest_drain --seeds 1-10 --seconds 10 [--out f.json]

Run from the repository root.
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


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for s in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            raise SystemExit("seed %d failed (exit %d)" % (s, p.returncode))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["wall_s"] = time.time() - t0
        runs.append(res)
        print("seed %d: %.1f s correct=%s %s" % (s, res["wall_s"], res["correct"], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())), file=sys.stderr, flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        med, iqr = spread(vals)
        summary[k] = {"median": med, "iqr_share": iqr, "values": vals}
        print("%-24s median %12.5g  iqr/median %.3f" % (k, med, iqr))
    out = {"workload": args.workload, "seeds": seeds(args.seeds), "seconds": args.seconds,
           "all_correct": all(r["correct"] for r in runs),
           "wall_s": [round(r["wall_s"], 1) for r in runs], "metrics": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
