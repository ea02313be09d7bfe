#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload catalog_mix --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.py); every run then starts one JVM that
sets up, measures a closed loop of passes for `--seconds`, and checks the
outputs (perfbench/harness). This script turns the harness's raw samples
into metrics, prints a report with the host and settings, and prints as
its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). See perfbench/METHOD.md.
"""
import argparse
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time

import build
import corpus
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175      # a run ends within 180 s, a building run within 900 s
BUILD_LIMIT_S = 700
MAX_CORES = 4
SETUPS = 3  # set-ups per run; setup_s is their median
HEAP = "2g"  # fixed size: a growing heap changes GC timing from run to run
JVM_OPTS = [
    *[f for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
      for f in ("--add-opens", f"{p}=ALL-UNNAMED")],
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def output_rows(out_dir):
    """Row count of each Parquet output of one ETL pass (None if absent)."""
    import pyarrow.parquet as pq
    rows = {}
    for name in ("minimal_events", "daily_collection_stats", "token_stats",
                 "collection_summary", "collection_dimension"):
        try:
            rows[name] = pq.ParquetDataset(
                os.path.join(out_dir, f"{name}.parquet")).read(
                    columns=[]).num_rows
        except (OSError, ValueError):
            rows[name] = None
    return rows


def harness(cp, harness_args, work, deadline):
    """Runs the harness JVM with its scratch files under `work`; returns
    its result file."""
    out, log_path = os.path.join(work, "result.json"), \
        os.path.join(work, "harness.log")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "perfbench.Harness", f"work={work}", f"out={out}", *harness_args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.run(cmd, cwd=work, stdout=log, stderr=log,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local"),
                              timeout=max(1.0, deadline - time.time()))
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cfg = load_json("workloads.json")
    if args.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {args.workload}; "
                 f"known: {', '.join(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no program sources under {ROOT}: nothing to benchmark")

    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)
    load_start = os.getloadavg()
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build.classpath(ROOT, BUILD_DIR, BUILD_LIMIT_S)
    # RUN_LIMIT_S from the start; after a build, from the end of the build
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - t_start, 10)

    work = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    facts = expected = groups = None
    if wl["kind"] == "etl":
        facts = corpus.generate(os.path.join(work, "corpus"), args.seed,
                                wl["scale"])
        corpus.warmup_copy(os.path.join(work, "corpus"),
                           os.path.join(work, "warmup"), wl["warmup_rows"])
        extra = [f"corpus={work}/corpus", f"warmup={work}/warmup"]
    else:
        groups = {q: g for g, qs in wl["groups"].items() for q in qs}
        queries = sorted(groups)
        random.Random(args.seed).shuffle(queries)  # results do not change
        expected = load_json(cfg["expected"])
        extra = [f"data={os.path.join(HERE, cfg['catalog_data'])}",
                 f"queries={','.join(queries)}"]
    try:
        raw = harness(cp, [f"workload={args.workload}",
                           f"seconds={args.seconds}", f"trace={args.trace}",
                           f"setups={SETUPS}", f"cores={cores}", *extra],
                      work, deadline)
        if facts is not None:
            bad = {}
            for p in raw["passes"]:
                for op in p["ops"]:
                    if op["name"] == "pipeline" and op["ok"]:
                        miss = M.check_etl(op, facts, output_rows(op["out_dir"]))
                        if miss:
                            op["ok"], op["error"] = False, "; ".join(miss)
                    elif op["name"] == "layers" and op["ok"]:
                        got = (op["rows_in"], op["rows_out"])
                        want = (facts["raw_rows"], facts["clean_rows"])
                        if got != want:
                            op["ok"] = False
                            op["error"] = f"layer rows in/out {got} != planted {want}"
        else:
            bad = M.check_catalog(raw["checks"], expected)
        report = M.summarize(raw, wl["kind"], bad, cores, facts, groups)
    finally:
        if os.path.isdir(work):
            shutil.rmtree(work, ignore_errors=True)

    host = {"nproc": nproc, "cores_used": cores, "platform": platform.platform(),
            "python": platform.python_version(),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            **raw["host"]}
    detail = {"workload": args.workload, "host": host, **report,
              "setups_s": raw["setup_s"], "passes": raw["passes"],
              "checks": raw["checks"], "spans": raw["spans"]}
    results = os.path.join(BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-"
                                    f"trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    M.print_report(args.workload, host, report, args.trace)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = report["layers"] if args.trace else report["e2e"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
                    for m in spec["per_layer" if args.trace else "end_to_end"]},
    }))


if __name__ == "__main__":
    main()
