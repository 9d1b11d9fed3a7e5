"""Rebuild the cached inputs and expected answers of one workload and seed.

A run reuses them from perfbench/work/inputs when the seed, the generated
inputs and the oracle SQL are unchanged; this drops that cache entry and
makes it again (the generator and DuckDB, no JVM beyond the build).

    python3 perfbench/expected.py --workload etl --seed 7    # from the repository root
"""
import argparse
import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "etl", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    for d in glob.glob(os.path.join(run.WORK, "inputs", f"{args.workload}-s{args.seed}-*")):
        shutil.rmtree(d)
    os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
    log_path = os.path.join(run.WORK, "logs", "expected.log")
    try:
        oracle_sql = build.ensure_built(log_path)
    except build.BuildError as e:
        print(f"expected: {e}", file=sys.stderr)
        return 1
    with open(log_path, "a") as log:
        path, _ = run.prepare_inputs(args.workload, args.seed, oracle_sql, log)
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
