"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload {dashboard,etl,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds graft from source when needed
(build.py; the first run after a build also makes the class-data archive
with an untimed training run), generates the seeded inputs (gen.py) and
their expected answers (oracle.py, DuckDB; cached per seed and input
fingerprint), then drives one fresh JVM through three set-ups and whole
timed rounds. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 1 the
metrics are the per-layer ones and the spans go to perfbench/work/traces.
Spark, JVM and build output go to perfbench/work/logs. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, "work")
DEADLINE_S = 170          # a run ends within 180 s, build included
CACHE_KEEP = 6            # cached input sets kept on disk

# Sizes of the generated inputs, per workload.
DASH_SF = 0.01
DASH_FILTERS = 4          # filter sets; round r uses one of them
ETL_SF = 0.02
CURATION_DOCS = 300
CURATION_VECS = 300
SETUPS = 3                # set-ups per run; setup_s is their median
# Nominal seconds of one round on a 4-cpu box: a run makes
# max(1, round(seconds / ROUND_S)) whole rounds, the same in every run.
ROUND_S = {"dashboard": 20.0, "etl": 26.0, "curation": 22.0}

# Registry entries of the curation workload: one for each ext module with
# a session store or a trained model but Retrieval (Dedup, ProductQuant,
# KMeans, Similarity, TextOps), so that a run stays short. Left out:
# rag_bm25_topk (~4 s cold and ~3 s warm per call on 300 documents),
# text_bpe_encode_forms (~7 s cold, ~3.5 s warm), text_corpus_filter,
# dedup_semantic, dedup_simhash, text_pii_redact, rag_hybrid_rrf and
# dedup_incremental (~1-4 s each).
CURATION_ENTRIES = [
    "dedup_minhash_lsh", "sim_ivfpq_topk", "sim_kmeans_assign", "sim_knn_graph",
    "text_quality_score"]
REPORTS = [
    "q1_total_revenue", "q2_revenue_per_year", "q3_top_nations_by_revenue",
    "q4_units_per_item_type", "q5_avg_margin_per_channel", "q6_revenue_per_region_year",
    "q7_top_orders_by_price", "q8_avg_shipping_days", "q8_shipping_days_bucketed",
    "dash_kpis", "dash_channel_rollup", "dash_monthly_trend", "dash_filtered_kpis"]



def declared_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def dashboard_filters(seed):
    """Filter sets drawn from the real domains, and the order in which
    rounds take them (round r makes interaction seq[r % len(seq)])."""
    rng = random.Random(seed * 7919 + 1)
    filters = []
    for _ in range(DASH_FILTERS):
        # a two-year window, two regions, three priorities, two statuses:
        # the values vary with the seed, the selectivity (~5%) does not
        y, m = rng.randint(1995, 1999), rng.randint(1, 12)
        filters.append((f"{y:04d}-{m:02d}-01", f"{y + 2:04d}-{m:02d}-01",
                        sorted(rng.sample(gen.REGIONS, 2)), sorted(rng.sample(gen.PRIORITIES, 3)),
                        sorted(rng.sample(gen.STATUSES, 2))))
    seq = list(range(DASH_FILTERS))
    rng.shuffle(seq)
    return filters, seq


def _fingerprint(d):
    """Fingerprint of the parquet files in `d` (names and contents)."""
    h = hashlib.sha256()
    for p in sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare_inputs(workload, seed, oracle_sql_path, log):
    """Generated inputs plus expected answers, cached under a key made of
    the seed, the generated inputs' fingerprint and the oracle SQL."""
    oracle_sql = dict(line.rstrip("\n").split("\t", 1)
                      for line in open(oracle_sql_path, encoding="utf-8") if line.strip())
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    tmp = os.path.join(cache, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "curation":
        rows = sum(gen.write_corpus(tmp, seed, CURATION_DOCS, CURATION_VECS).values())
    else:
        sizes = gen.write_star(tmp, seed, DASH_SF if workload == "dashboard" else ETL_SF)
        rows = sum(sizes.values())
    h = hashlib.sha256()
    h.update(f"{workload}|{seed}|{_fingerprint(tmp)}".encode())
    for f in ("oracle.py", "canon.py", "run.py"):
        h.update(open(os.path.join(HERE, f), "rb").read())
    h.update(open(oracle_sql_path, "rb").read())
    key = f"{workload}-s{seed}-{h.hexdigest()[:16]}"
    final = os.path.join(cache, key)
    extra = {}
    if workload == "dashboard":
        filters, seq = dashboard_filters(seed)
        extra = {"sequence": ",".join(map(str, seq))}
    elif workload == "curation":
        # a fixed order: the first entry of a pass pays the JVM's warm-up
        # (2-3 s here), so a seeded order made the figures vary by seed
        extra = {"entries": ",".join(CURATION_ENTRIES)}
    if os.path.exists(os.path.join(final, "done")):
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(final)
        log.write(f"inputs: cached {key}\n")
    else:
        t0 = time.time()
        if workload == "dashboard":
            oracle.dashboard(tmp, tmp, oracle_sql, REPORTS, filters)
        elif workload == "etl":
            oracle.etl(tmp, tmp, oracle_sql)
        else:
            oracle.curation(tmp, tmp, oracle_sql, CURATION_ENTRIES)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        log.write(f"inputs: built {key} in {time.time() - t0:.1f} s\n")
        old = sorted((d for d in os.listdir(cache) if not d.startswith("tmp-")),
                     key=lambda d: os.path.getmtime(os.path.join(cache, d)))
        for d in old[:-CACHE_KEEP]:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    extra["input_rows"] = str(rows)
    return final, extra


def apply_fault(fault, inputs, scratch):
    """Self-test faults (selftest.py): a copy of the inputs without
    lineitem.parquet, or an expected file with one digest corrupted."""
    if fault == "none":
        return inputs, os.path.join(inputs, "expected.tsv")
    if fault == "missing-lineitem":
        copy = os.path.join(scratch, "inputs")
        shutil.copytree(inputs, copy)
        os.remove(os.path.join(copy, "lineitem.parquet"))
        return copy, os.path.join(copy, "expected.tsv")
    lines = open(os.path.join(inputs, "expected.tsv"), encoding="utf-8").read().splitlines()
    k, n, d = lines[0].split("\t")
    lines[0] = "\t".join([k, n, "0" * len(d)])
    path = os.path.join(scratch, "expected.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return inputs, path


def run_jvm(props, scratch, log, jvm_options, deadline):
    """One benchmark JVM over `props`, in `scratch`; stdout carries only
    its `PERFBENCH` result line, Spark's log goes to `log`. Returns the
    exit code and stdout; the JVM has ended when it returns."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    props_path = os.path.join(scratch, "run.properties")
    with open(props_path, "w", encoding="utf-8") as f:
        for k, v in props.items():
            f.write(f"{k}={v.replace(chr(92), chr(92) * 2)}\n")
    cmd = ["java", *jvm_options, "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
           *build.ADD_OPENS, "-cp", os.pathsep.join(build.classpath()),
           "graftbench.Main", props_path]
    log.write(" ".join(cmd) + "\n")
    log.flush()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=scratch, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    log.write(out)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "etl", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", default="none",
                    choices=["none", "missing-lineitem", "corrupt-expected"],
                    help="self-test only: run against a broken input or expected value")
    args = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for d in ("logs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(started)}-{os.getpid()}"
    log_path = os.path.join(WORK, "logs", run_id + ".log")
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    train_dir = os.path.join(WORK, f"train-{os.getpid()}")
    with open(log_path, "w") as log:
        try:
            oracle_sql = build.ensure_built(log_path)
            # the build may take minutes; the run itself ends within DEADLINE_S
            deadline = time.time() + DEADLINE_S
            inputs, extra = prepare_inputs(args.workload, args.seed, oracle_sql, log)
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            inputs, expected = apply_fault(args.fault, inputs, scratch)
            props = {
                "workload": args.workload, "inputs": inputs, "scratch": scratch,
                "cpus": str(os.cpu_count()),
                "rounds": str(max(1, round(args.seconds / ROUND_S[args.workload]))),
                "trace": str(args.trace), "setups": str(SETUPS), "expected": expected,
                "spark_sql": os.path.join(inputs, "spark_sql.tsv"),
                "filters": os.path.join(inputs, "filters.tsv"),
                "feed": os.path.join(inputs, "feed.zip"),
                "trace_out": os.path.join(WORK, "traces", run_id + ".jsonl"),
                "run_id": run_id, **extra}
            train = build.cds_dump_options(str(os.getpid()))
            if train is not None:
                # untimed: makes the class-data archive every later run maps
                t0 = time.time()
                run_jvm({**props, "scratch": train_dir, "trace": "0"}, train_dir, log,
                        train, t0 + DEADLINE_S)
                build.cds_adopt(str(os.getpid()))
                log.write(f"class-data archive: training run {time.time() - t0:.1f} s\n")
                deadline = time.time() + DEADLINE_S
            rc, out = run_jvm(props, scratch, log, build.cds_options(), deadline)
            lines = [l[len("PERFBENCH "):] for l in out.splitlines() if l.startswith("PERFBENCH ")]
            if rc != 0 or not lines:
                raise RuntimeError(f"benchmark JVM exited {rc}; see {log_path}")
            res = json.loads(lines[-1])
        except Exception as e:  # noqa: BLE001 - reported, then a non-zero exit
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            shutil.rmtree(train_dir, ignore_errors=True)

    metrics = {}
    for n, unit in declared_metrics(args.trace):
        v = res["metrics"].get(n)
        if v is None and res["failed"] == 0:
            print(f"perfbench: metric {n} missing; see {log_path}", file=sys.stderr)
            return 1
        # v is None (JSON null) only when every operation it times failed:
        # a failed operation adds no sample, so it cannot read as fast
        metrics[n] = {"value": v, "unit": unit}
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
