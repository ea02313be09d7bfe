"""Builds the program and the benchmark harness from source with sbt.

The harness build (perfbench/harness) depends on the root build, so one
sbt call compiles both and prints the runtime classpath. The classpath is
kept in the build directory with a fingerprint of every source and build
file; later runs reuse it until a source changes.
"""
import hashlib
import json
import os
import subprocess

# Inputs of the build, relative to the repository root.
INPUTS = ["build.sbt", "project", "src/main", "perfbench/harness"]
SKIP_DIRS = {"target"}


def fingerprint(root):
    h = hashlib.sha256()
    for top in INPUTS:
        base = os.path.join(root, top)
        if os.path.isfile(base):
            paths = [base]
        else:
            paths = []
            for d, dirs, files in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS)
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(root, build_dir, timeout_s):
    """Runtime classpath of the harness, building first if needed."""
    stamp = os.path.join(build_dir, "build.json")
    fp = fingerprint(root)
    try:
        with open(stamp) as f:
            kept = json.load(f)
        if kept["fingerprint"] == fp and all(
                os.path.exists(p) for p in kept["classpath"].split(os.pathsep)):
            return kept["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=log, text=True, timeout=timeout_s)
        log.write(proc.stdout)
    cp = [line for line in proc.stdout.splitlines()
          if line.endswith((".jar", "classes")) and os.pathsep in line]
    if proc.returncode != 0 or not cp:
        raise RuntimeError(f"sbt build failed (exit {proc.returncode}); "
                           f"see {log_path}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]
