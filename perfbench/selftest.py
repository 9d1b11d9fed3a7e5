"""Self-test of the benchmark's failure accounting.

Runs the `dashboard` workload twice with a planted fault and checks that
the fault shows as failed operations, never as fast ones:

  * missing-lineitem: the JVM reads a copy of the inputs without
    lineitem.parquet (the expected answers are those of the full inputs);
  * corrupt-expected: one expected digest (q1_total_revenue) is zeroed.

Each run must exit 0 with `failed` > 0, and no operation the log reports
FAILED may also have a latency sample (an `op` line).

    python3 perfbench/selftest.py        # from the repository root
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(fault):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "dashboard",
                          "--seed", "1", "--seconds", "20", "--trace", "0", "--fault", fault],
                         stdout=subprocess.PIPE, text=True)
    assert out.returncode == 0, f"{fault}: exit {out.returncode}"
    res = json.loads(out.stdout.strip().splitlines()[-1])
    logs = os.path.join(HERE, "work", "logs")
    log = max((os.path.join(logs, f) for f in os.listdir(logs) if f.startswith("dashboard-s1-t0-")),
              key=os.path.getmtime)
    text = open(log, encoding="utf-8").read()
    failed = set(re.findall(r"\[perfbench\] FAILED \S+ (\S+): ", text))
    sampled = set(re.findall(r"\[perfbench\] (?:op|step) \S+ (\S+) [0-9.]+ ms", text))
    return res, failed, sampled


def main():
    ok = True
    for fault, must_fail in (("missing-lineitem", {"pin:lineitem", "q1_total_revenue"}),
                             ("corrupt-expected", {"q1_total_revenue"})):
        res, failed, sampled = run(fault)
        problems = []
        if res["failed"] <= 0:
            problems.append("no failed operations")
        if not must_fail <= failed:
            problems.append(f"expected failures {sorted(must_fail - failed)} not reported")
        if failed & sampled:
            problems.append(f"failed operations with a latency sample: {sorted(failed & sampled)}")
        if not res["correct"]:
            problems.append("correct is false")
        print(f"{fault}: attempted {res['attempted']} failed {res['failed']} "
              f"({len(failed)} distinct keys) -> {'ok' if not problems else '; '.join(problems)}")
        ok = ok and not problems
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
