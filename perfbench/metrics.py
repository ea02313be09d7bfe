"""Turns the harness's raw samples into checks, failure counts and metrics.

Everything here is pure: `run.py` feeds it the harness's result file, the
expected values and the planted facts.
"""
import json
import math
import os
import re


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """p-th percentile (0..100) with linear interpolation between ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def account(passes, bad_names):
    """Failure accounting over the timed passes.

    Every operation of every pass is attempted. It fails if it raised, or
    if its output check failed (`bad_names`, name -> reason): then it is
    counted in `failed` and gives no latency sample. Returns
    (attempted, failed, samples, failures), where samples maps an
    operation name to its wall times on untraced passes.
    """
    attempted = failed = 0
    samples = {}
    failures = {}
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            name = op["name"]
            reason = op.get("error") if not op.get("ok") else bad_names.get(name)
            if reason is not None:
                failed += 1
                failures.setdefault(name, reason)
            elif not p["traced"]:
                samples.setdefault(name, []).append(op_wall(op))
    return attempted, failed, samples, failures


def op_wall(op):
    if "build_s" in op:
        return op["build_s"] + op["execute_s"]
    return op["wall_s"]


def check_catalog(checks, expected):
    """name -> reason for every query whose row count or digest differs
    from the stored value, or whose check value is missing or empty."""
    bad = {}
    for c in checks:
        name = c["name"]
        exp = expected.get(name)
        if c.get("error"):
            bad[name] = "check raised: " + c["error"]
        elif exp is None:
            bad[name] = "no expected value stored"
        elif not c.get("digest") or c.get("rows") is None:
            bad[name] = "empty check value"
        elif c["rows"] != exp["rows"]:
            bad[name] = f"rows {c['rows']} != expected {exp['rows']}"
        elif c["digest"] != exp["digest"]:
            bad[name] = f"digest {c['digest']} != expected {exp['digest']}"
    return bad


def check_etl(op, facts, output_rows):
    """Mismatches between one pipeline pass and the planted facts.

    `output_rows` maps each Parquet output's name to its row count (or
    None if unreadable); `metrics.json` is read from the pass's output.
    """
    rep, met = op["report"], op["metrics"]
    got = []

    def want(what, value, expected):
        if value != expected:
            got.append(f"{what}: {value!r} != planted {expected!r}")

    want("raw rows", rep["total_rows"], facts["raw_rows"])
    want("duplicate keys", rep["duplicate_keys"], facts["duplicate_keys"])
    want("negative prices", rep["negative_prices"], facts["negative_prices"])
    want("out-of-range timestamps", rep["out_of_range_timestamps"],
         facts["out_of_range_timestamps"])
    want("invalid sellers", rep["invalid_addresses"].get("seller"),
         facts["invalid_sellers"])
    want("invalid buyers", rep["invalid_addresses"].get("buyer"), 0)
    want("null collections", rep["null_counts"].get("collection"),
         facts["null_collections"])
    want("invalid event types", rep["invalid_event_types"],
         facts["invalid_event_types"])
    want("price mismatches", rep["price_mismatches"], 0)
    want("missing columns", rep["missing_columns"], [])
    try:
        with open(os.path.join(op["out_dir"], "metrics.json")) as f:
            files = json.load(f)
    except (OSError, ValueError) as e:
        got.append(f"metrics.json unreadable: {e}")
        files = None
    for src, m in (("metrics", met), ("metrics.json", files)):
        if m is None:
            continue
        want(f"{src} clean rows", m.get("total_rows"), facts["clean_rows"])
        want(f"{src} collections", m.get("total_collections"),
             len(facts["collections"]))
        want(f"{src} tokens", m.get("total_tokens"), facts["total_tokens"])
        want(f"{src} date range", m.get("date_range"),
             {"min": facts["date_min"], "max": facts["date_max"]})
        want(f"{src} priced rows", m.get("transactions_with_price"),
             facts["priced_rows"])
        want(f"{src} unpriced rows", m.get("null_prices"),
             facts["clean_rows"] - facts["priced_rows"])
        want(f"{src} event types",
             {e["event_type"]: e["count"] for e in m.get("event_types", [])},
             facts["event_types"])
        want(f"{src} per collection",
             {e["collection"]: e["count"] for e in m.get("collections", [])},
             facts["collections"])
    want("minimal_events rows", output_rows.get("minimal_events"),
         facts["clean_rows"])
    want("daily_collection_stats rows",
         output_rows.get("daily_collection_stats"), facts["daily_rows"])
    want("token_stats rows", output_rows.get("token_stats"),
         facts["token_rows"])
    want("collection_summary rows", output_rows.get("collection_summary"),
         len(facts["collections"]))
    want("collection_dimension rows",
         output_rows.get("collection_dimension"), len(facts["collections"]))
    return got


def family(query_name):
    """Query family: the leading letters of the name (ann9_x -> ann)."""
    m = re.match(r"[a-z]+", query_name)
    return m.group(0) if m else query_name


def self_times(spans):
    """Self time per span name: a span's duration minus the time its
    children cover (children overlap-merged), summed by name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_s"]
        for a, b in sorted(kids.get(s["id"], [])):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] = out.get(s["name"], 0.0) + \
            (s["end_s"] - s["start_s"]) - covered
    return out


def _med(xs):
    return median(xs) if xs else None


def summarize(raw, kind, bad, cores, facts, groups=None):
    """Metrics of one run. `e2e` and `layers` hold the values the final
    JSON line reports; `table` holds every named metric for the printed
    report, with None where it does not apply to the workload. `groups`
    maps a catalog query to its group (light or heavy); `facts` are the
    ETL corpus's planted facts."""
    passes = raw["passes"]
    attempted, failed, samples, failures = account(passes, bad)
    etl = kind == "etl"

    def wall(p):  # the pass wall; for the ETL, the pipeline operation's
        return next(o["wall_s"] for o in p["ops"]
                    if o["name"] == "pipeline") if etl else p["wall_s"]

    def clean(p):
        return all(o.get("ok") and o["name"] not in bad for o in p["ops"])

    untraced = [p for p in passes if not p["traced"] and clean(p)]
    traced = [p for p in passes if p["traced"] and clean(p)]
    pooled = [x for xs in samples.values() for x in xs]
    if etl:
        pass_s = _med([wall(p) for p in untraced])
        per_s = facts["raw_rows"] / pass_s if pass_s else None
    else:
        # a pass as the sum of each query's median time: a burst of host
        # load in one pass moves one sample per query, not the pass
        n = len(passes[0]["ops"])
        pass_s = sum(median(xs) for xs in samples.values()) \
            if len(samples) == n else None
        per_s = n / pass_s if pass_s else None
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "ops_per_s": per_s,
        "peak_heap_mb": max((p["heap_after_gc_mb"] for p in untraced),
                            default=None),
    }
    p50 = _med(pooled)
    n_setups = len(raw["setup_s"])
    table = [
        ("setup_s", e2e["setup_s"], "s", f"median of {n_setups} set-ups"),
        ("events_per_s", per_s if etl else None, "events/s", ""),
        ("queries_per_s", None if etl else per_s, "queries/s", ""),
        ("query_p50_s", None if etl else p50, "s",
         f"{len(pooled)} samples"),
        ("query_p90_s", None if etl or not pooled else percentile(pooled, 90),
         "s", f"{len(pooled)} samples"),
        ("failed_ratio", failed / attempted, "ratio",
         f"{failed} of {attempted} operations"),
        ("peak_heap_mb", e2e["peak_heap_mb"], "MB", "after GC, timed passes"),
        ("pass_s", pass_s, "s", f"{len(untraced)} untraced passes"),
        ("pass_cpu_s", _med([p["cpu_s"] for p in untraced]), "s",
         "JVM CPU time per untraced pass"),
    ]
    if etl:
        table.insert(5, ("etl_pass_p50_s", p50, "s",
                         f"{len(pooled)} passes"))
    for g in sorted(set((groups or {}).values())):
        xs = {q: v for q, v in samples.items() if groups.get(q) == g}
        gx = [x for v in xs.values() for x in v]
        if gx:
            table.append((f"{g}.queries_per_s",
                          len(xs) / sum(median(v) for v in xs.values()),
                          "queries/s", f"{len(xs)} queries"))
            table.append((f"{g}.query_p50_s", median(gx), "s",
                          f"{len(gx)} samples"))
            table.append((f"{g}.query_p90_s", percentile(gx, 90), "s",
                          f"{len(gx)} samples"))

    layers, detail = {}, {}
    if traced:
        tw = [wall(p) for p in traced]
        uw = _med([wall(p) for p in untraced])

        def spark_sum(p, key):
            return sum(o["spark"][key] for o in p["ops"] if "spark" in o)

        keys = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
                "task_cpu_s", "task_gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb", "output_mb")
        for k in keys:
            layers[f"spark.{k}"] = median([spark_sum(p, k) for p in traced])
        layers["spark.jvm_gc_s"] = median([p["jvm_gc_s"] for p in traced])
        layers["spark.core_busy"] = median(
            [spark_sum(p, "task_run_s") / (wall(p) * cores) for p in traced])
        layers["trace.pass_s"] = median(tw)
        layers["trace.overhead_s"] = median(tw) - uw if uw else None
        if etl:
            detail.update(_etl_layers(traced, uw))
        else:
            detail.update(_catalog_layers(traced, raw["checks"]))
            # build + execute must cover the pass wall up to the overhead
            detail["catalog.attribution_ok"] = \
                abs(detail["catalog.unattributed_s"]) <= \
                abs(layers["trace.overhead_s"] or 0.0) + 0.01 * median(tw)
        detail["self_s"] = self_times(raw["spans"])
    return {"attempted": attempted, "failed": failed, "failures": failures,
            "e2e": e2e, "layers": layers, "table": table, "detail": detail}


def _etl_layers(traced, pass_s):
    """Layer times, rows and phases of the traced ETL passes; `pass_s` is
    the untraced pipeline wall the overlap is measured against."""
    lay = [o for p in traced for o in p["ops"] if o["name"] == "layers"]
    pipe = [o for p in traced for o in p["ops"] if o["name"] == "pipeline"]
    out = {}
    for name in lay[0]["times_s"]:
        out[f"{name}_s"] = median([o["times_s"][name] for o in lay])
    out["etl.rows_in"] = lay[0]["rows_in"]
    out["etl.rows_out"] = lay[0]["rows_out"]
    out["etl.rows_rejected"] = lay[0]["rows_in"] - lay[0]["rows_out"]
    out["sources.bytes_written_mb"] = median(
        [o["bytes_written"] / 1048576.0 for o in lay])
    for name in pipe[0]["phases"]:
        key = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
        out[f"etl.phase.{key}_s"] = median([o["phases"][name] for o in pipe])
    layer_sum = median([sum(o["times_s"].values()) for o in lay])
    out["etl.overlap"] = layer_sum / pass_s if pass_s else None
    return out


def _catalog_layers(traced, checks):
    out = {}
    build = [sum(o["build_s"] for o in p["ops"]) for p in traced]
    execute = [sum(o["execute_s"] for o in p["ops"]) for p in traced]
    out["catalog.build_s"] = median(build)
    out["catalog.execute_s"] = median(execute)
    out["catalog.unattributed_s"] = median(
        [p["wall_s"] - b - e for p, b, e in zip(traced, build, execute)])
    out["catalog.rows_out"] = sum(c.get("rows") or 0 for c in checks)
    fams = sorted({family(o["name"]) for o in traced[0]["ops"]})
    for f in fams:
        out[f"catalog.{f}.s"] = median(
            [sum(op_wall(o) for o in p["ops"] if family(o["name"]) == f)
             for p in traced])
    return out


def _fmt(v):
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def print_report(workload, host, report, trace):
    print(f"# perfbench {workload}  seed={host['seed']} trace={trace}")
    print("# host: " + " ".join(
        f"{k}={host[k]}" for k in (
            "nproc", "cores_used", "master", "shuffle_partitions", "aqe",
            "scheduler", "jvm", "spark", "loadavg_start", "loadavg_end")))
    for name, value, unit, note in report["table"]:
        applies = "" if value is not None else "  (does not apply)"
        print(f"  {name:<16} {_fmt(value):>12} {unit:<10} {note}{applies}")
    for name, reason in sorted(report["failures"].items()):
        print(f"  FAILED {name}: {reason}")
    if trace:
        for k, v in sorted({**report["layers"], **report["detail"]}.items()):
            if k != "self_s":
                print(f"  {k:<36} {_fmt(v)}")
        top = sorted(report["detail"].get("self_s", {}).items(),
                     key=lambda kv: -kv[1])[:8]
        print("  top self time: " + ", ".join(
            f"{n}={v:.3f}s" for n, v in top))
