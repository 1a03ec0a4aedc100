"""Turns one JVM result (result.json) into the benchmark's metrics.

End-to-end metrics come from per-op timings of an untraced run; per-layer
metrics from the spans of a traced run (see Trace.scala for what each span
carries). Every value is reported as measured, unrounded.
"""

MB = 1048576.0

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "repeat_op_p50_s": "s", "ops_ok_frac": "ratio",
}

PER_LAYER = {
    "Tables.scan_mb": "MB", "Tables.scan_rows": "count",
    "Tables.rows_per_result_row": "ratio",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.driver_only_s": "s", "operators.exec_s": "s",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.task_s": "s", "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.busy_frac": "ratio",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB", "operators.result_rows": "count",
    "state.storage_mb_peak": "MB", "state.storage_mb_end": "MB",
    "state.rdds_live_end": "count", "state.release_s": "s",
    "state.lake_builds": "count", "state.lake_build_s": "s", "state.lake_mb": "MB",
    "state.stored_mb": "MB", "state.peak_rss_mb": "MB",
    "config.publish_s": "s", "config.read_s": "s", "config.index_s": "s",
    "config.rows_published": "count", "config.bytes_written_mb": "MB",
    "config.files_written": "count", "config.write_amp": "ratio",
    "harness.check_s": "s", "harness.trace_overhead_frac": "ratio",
}

OP_PHASES = ("operators.construct", "operators.exec", "config.publish",
             "config.read", "config.index")


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile of xs: the mean of all
    order statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density (its
    CDF by the midpoint rule). One or two order statistics of some 30 ops
    follow a single op's noise; on ten-seed sets of reports this estimate
    cut the interquartile spread of op_tail_s from 0.14-0.22 to 0.13-0.14."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1 or p >= 1.0:
        return xs[-1]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cells = 200 * n
    dens = [((k + 0.5) / cells) ** (a - 1) * (1 - (k + 0.5) / cells) ** (b - 1)
            for k in range(cells)]
    total = sum(dens)
    per = cells // n
    return sum(xs[i] * sum(dens[i * per:(i + 1) * per]) for i in range(n)) / total


def tail(durations):
    """(value, percentile) at the highest percentile that still has at
    least ten ops beyond it; the maximum when there are ten or fewer ops."""
    n = len(durations)
    if n <= 10:
        return max(durations), 100.0
    pct = 100.0 * (n - 10) / n
    return quantile(durations, pct / 100.0), pct


def failures(res):
    """Per-op failure reasons: exceptions, results that differ from the
    key's first call, oracle mismatches, and lake_refresh check failures."""
    bad = {}
    verdict = res.get("oracle_verdict", {})
    for o in res["ops"]:
        if o.get("error"):
            bad[o["id"]] = o["error"]
        elif verdict.get(o["key"]):
            bad[o["id"]] = f"oracle: {verdict[o['key']]}"
    owner = {"monthly_usage": "inc_monthly", "sessions": "inc_sessions",
             "user_lifetime": "inc_lifetime", "churn_daily": "inc_churn",
             "type_reach": "inc_reach", "ivf_live_count": "ivf_"}
    for c in res.get("lake_checks", []):
        if c["ok"]:
            continue
        prefix = owner[c["name"].replace("incremental_", "")]
        for o in res["ops"]:
            # the bootstrap publish feeds every maintained table
            if o["key"].startswith(prefix) or (o["key"] == "pipeline_run" and prefix != "ivf_"):
                bad.setdefault(o["id"], f"{c['name']}: {c['detail']}")
    return bad


def end_to_end(res):
    ops = res["ops"]
    durs = [o["dur_s"] for o in ops]
    rep = [o["dur_s"] for o in ops if o["repeat"]] or durs
    bad = failures(res)
    t, pct = tail(durs)
    m = {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "op_p50_s": quantile(durs, 0.5),
        "op_tail_s": t,
        "repeat_op_p50_s": quantile(rep, 0.5),
        "ops_ok_frac": 1.0 - len(bad) / len(ops),
    }
    info = {"n_ops": len(ops), "n_repeat": len(rep), "tail_pct": pct,
            "setup_parts_s": dict(zip(("jvm", "session", "warmup", "fill"),
                                      res["setup_parts_s"])),
            "stored_mb": res["stored_bytes"] / MB, "peak_rss_mb": res["peak_rss_mb"],
            "failed_ops": len(bad)}
    return m, info


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(res, untraced):
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    jobs = [s for s in spans if s["name"] == "spark.job"]
    phases = [s for s in spans if s["parent"] and s["name"] != "spark.job"]

    def jsum(attr, pred=lambda j: True):
        return sum(j["attrs"].get(attr, 0.0) for j in jobs if pred(j))

    def psum(attr, names=None):
        return sum(p["attrs"].get(attr, 0.0) for p in phases
                   if names is None or p["name"] in names)

    def ptime(name):
        return sum(dur(p) for p in phases if p["name"] == name)

    def in_phase(names):
        return lambda j: by_id[j["parent"]]["name"] in names

    # an op's timed part is its construct/exec (or config.*) phases; the
    # check and release that follow inside the op span are not timed
    op_phases = [p for p in phases if p["name"] in OP_PHASES]
    op_time = sum(dur(p) for p in op_phases)
    job_iv = {}
    for j in jobs:
        job_iv.setdefault(j["parent"], []).append((j["start_ns"], j["end_ns"]))
    driver_only = 0.0
    for p in op_phases:
        busy = [(max(a, p["start_ns"]), min(b, p["end_ns"])) for a, b in job_iv.get(p["id"], [])]
        driver_only += dur(p) - _union([iv for iv in busy if iv[1] > iv[0]]) / 1e9
    op_jobs = in_phase(OP_PHASES)
    cfg = in_phase(("config.publish", "config.read", "config.index"))
    result_rows = sum(o["rows"] for o in res["ops"])
    scan_rows = jsum("input_rows", op_jobs)
    task_s = jsum("task_ms", op_jobs) / 1e3
    written = jsum("output_bytes", cfg)
    m = {
        "Tables.scan_mb": jsum("input_bytes", op_jobs) / MB,
        "Tables.scan_rows": scan_rows,
        "Tables.rows_per_result_row": scan_rows / result_rows if result_rows else 0.0,
        "plans.analysis_ms": psum("analysis_ms", OP_PHASES),
        "plans.optimization_ms": psum("optimization_ms", OP_PHASES),
        "plans.planning_ms": psum("planning_ms", OP_PHASES),
        "codegen.compile_ms": psum("codegen_compile_ms", OP_PHASES),
        "codegen.classes": psum("codegen_classes", OP_PHASES),
        "operators.construct_s": ptime("operators.construct"),
        "operators.construct_jobs": jsum("jobs", in_phase(("operators.construct",))),
        "operators.driver_only_s": driver_only,
        "operators.exec_s": ptime("operators.exec"),
        "operators.jobs": jsum("jobs", op_jobs),
        "operators.stages": jsum("stages", op_jobs),
        "operators.tasks": jsum("tasks", op_jobs),
        "operators.task_s": task_s,
        "operators.task_cpu_s": jsum("task_cpu_ms", op_jobs) / 1e3,
        "operators.gc_s": jsum("gc_ms", op_jobs) / 1e3,
        "operators.busy_frac": task_s / (op_time * res["cores"]) if op_time else 0.0,
        "operators.shuffle_write_mb": jsum("shuffle_write_bytes", op_jobs) / MB,
        "operators.shuffle_read_mb": jsum("shuffle_read_bytes", op_jobs) / MB,
        "operators.spill_mb": jsum("spill_bytes", op_jobs) / MB,
        "operators.result_rows": float(result_rows),
        "state.storage_mb_peak": res["storage_mb_peak"],
        "state.storage_mb_end": res["storage_mb_end"],
        "state.rdds_live_end": res["rdds_live_end"],
        "state.release_s": ptime("state.release") + res["final_release_s"],
        "state.lake_builds": res["lake_builds"],
        "state.lake_build_s": res["lake_build_s"],
        "state.lake_mb": res["state_bytes"] / MB,
        "state.stored_mb": res["stored_bytes"] / MB,
        "state.peak_rss_mb": res["peak_rss_mb"],
        "config.publish_s": ptime("config.publish"),
        "config.read_s": ptime("config.read"),
        "config.index_s": ptime("config.index"),
        "config.rows_published": res["rows_published"],
        "config.bytes_written_mb": written / MB,
        "config.files_written": float(sum(o.get("files_written", 0) for o in res["ops"])),
        "config.write_amp": written / res["batch_bytes"] if res["batch_bytes"] else 0.0,
        "harness.check_s": res["check_jvm_s"] + res["check_py_s"],
        "harness.trace_overhead_frac":
            (res["wall_s"] - untraced["wall_s"]) / untraced["wall_s"] if untraced else 0.0,
    }
    return m


def span_problems(spans):
    """Nesting faults: a child outside its parent, or a negative self time."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    out = []
    for s in spans:
        if s["end_ns"] < s["start_ns"]:
            out.append(f"span {s['id']} ({s['name']}) ends before it starts")
        if s["parent"]:
            p = by_id.get(s["parent"])
            if p is None:
                out.append(f"span {s['id']} has no parent {s['parent']}")
                continue
            kids.setdefault(p["id"], []).append(s)
            if s["start_ns"] < p["start_ns"] or s["end_ns"] > p["end_ns"]:
                out.append(f"span {s['id']} ({s['name']}) outside parent {p['id']} ({p['name']})")
    for pid, ks in kids.items():
        p = by_id[pid]
        covered = _union([(k["start_ns"], k["end_ns"]) for k in ks])
        if (p["end_ns"] - p["start_ns"]) - covered < 0:
            out.append(f"span {pid} ({p['name']}) has negative self time")
    return out


def summarize(res, untraced, trace):
    e2e, info = end_to_end(untraced or res)
    bad = failures(res)
    info["loadavg"] = [res.get("loadavg_start"), res.get("loadavg_end")]
    if trace:
        vals, units = per_layer(res, untraced), PER_LAYER
        info["span_problems"] = span_problems(res["spans"])[:5]
    else:
        vals, units = e2e, END_TO_END
    return {
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
        "info": info,
        "errors": sorted(bad.values()),
        "attempted": len(res["ops"]),
        "failed": len(bad),
    }
