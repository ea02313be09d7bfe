#!/usr/bin/env python3
"""Times every catalog query once warm and derives its expected output.

    python3 perfbench/survey.py OUT.json [all | name,name,...]

Each query runs once warm and twice timed (build plus noop write), then
once more for its row count and digest. The frozen query lists in
workloads.json were chosen from this survey, and expected.json holds the
`rows` and `digest` it gave for each listed query; rerun it to rederive them after a deliberate
change to a query's output.
"""
import os
import subprocess
import sys
import tempfile

import build
import run

if __name__ == "__main__":
    out, names = sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else "all"
    os.makedirs(run.BUILD_DIR, exist_ok=True)
    cp = build.classpath(run.ROOT, run.BUILD_DIR, run.BUILD_LIMIT_S)
    cfg = run.load_json("workloads.json")
    with tempfile.TemporaryDirectory(dir=run.BUILD_DIR) as work:
        os.makedirs(f"{work}/tmp")
        subprocess.run(
            ["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
             "perfbench.Harness", "mode=survey", "workload=survey",
             f"cores={min(len(os.sched_getaffinity(0)), run.MAX_CORES)}",
             f"work={work}", f"out={os.path.abspath(out)}",
             f"data={os.path.join(run.HERE, cfg['catalog_data'])}",
             f"queries={names}"], cwd=work, check=True)
    print(f"wrote {out}")
