"""Run one workload under several seeds and report each metric's median
and spread (interquartile range over median), as the acceptance check
computes them.

    python3 perfbench/spread.py --workload etl --seeds 1-10 [--seconds 20] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append each run's result line to this file")
    args = ap.parse_args()
    values, shares = {}, set()
    for s in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(s),
                              "--seconds", args.seconds, "--trace", args.trace],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}")
            continue
        line = out.stdout.strip().splitlines()[-1]
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": s, "result": json.loads(line)}) + "\n")
        res = json.loads(line)
        shares.add(res["failed"] / res["attempted"])
        print(f"seed {s}: attempted {res['attempted']} failed {res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"failed shares: {sorted(shares)}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:24s} median {med:12.4f}  spread {spread:6.3f}  n={len(vs)}")


if __name__ == "__main__":
    main()
