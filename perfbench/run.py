#!/usr/bin/env python3
"""Benchmark runner: one run of one workload against the engine.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into perfbench/target and records the classpath;
later runs reuse it until a source file changes. Each run then

  1. generates the input tables from --seed into a run-private directory,
  2. launches one JVM (local[nproc]) with run-private java.io.tmpdir,
     Spark local dir and lake root, all asserted empty at start,
  3. runs the workload's fixed op list (ops.py) and times every op from
     the call into the engine until its full result is materialized,
  4. checks the outputs outside the op timers (DuckDB oracle through
     tools/diff.py for declared keys; rebuild parity and index counts for
     lake_refresh),
  5. removes the run-private directories and prints one JSON line.

With --trace 0 the line holds the end-to-end metrics. With --trace 1 the
same seed runs twice, untraced then traced, and the line holds the
per-layer metrics of the traced run plus the tracing overhead. A run
record (machine, settings, op list, per-op times) is written under
.bench_records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import ops as opsmod  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DIFF = os.path.join(ROOT, "tools", "diff.py")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
RUNS_DIR = os.path.join(ROOT, ".bench_runs")
RECORDS_DIR = os.path.join(ROOT, ".bench_records")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM formula: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_ticks():
    """(busy, steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0, 0
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    total = sum(v[:8])
    return total - idle - steal, steal, total


def cpu_share(a, b):
    """(busy share, steal share) of all CPUs between two cpu_ticks() samples."""
    dt = max(1, b[2] - a[2])
    return (b[0] - a[0]) / dt, (b[1] - a[1]) / dt


def foreign_load(window_s=1.0):
    """Busy + steal share of all CPUs while this benchmark is idle."""
    a = cpu_ticks()
    time.sleep(window_s)
    busy, steal = cpu_share(a, cpu_ticks())
    return busy + steal


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


# ---- build ------------------------------------------------------------------

def _sources():
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def source_digest():
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_home():
    """$SPARK_HOME, else the installation of the first spark-submit on PATH
    that sits next to a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return h
    die("set SPARK_HOME so the build finds the Spark jars")


def build():
    """Compile engine + harness once; rebuild when any source is newer."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= stamp for p in _sources()):
            return open(CLASSPATH).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt, offline)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


# ---- run-private state --------------------------------------------------------

class RunDirs:
    def __init__(self, tag):
        self.root = os.path.join(RUNS_DIR, tag)
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        self.data = os.path.join(self.root, "data")
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.lake = os.path.join(self.root, "lake")
        self.check = os.path.join(self.root, "check")
        for d in (self.data, self.tmp, self.local, self.lake, self.check):
            os.makedirs(d)

    def reset_state(self):
        """Empty the engine-visible state roots before a JVM starts."""
        for d in (self.tmp, self.local, self.lake, self.check):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            assert not os.listdir(d), f"state root {d} not empty at start"

    def remove(self):
        shutil.rmtree(self.root, ignore_errors=True)


def prepare_lake_inputs(dirs, plan):
    """Split the events month into day files and build one input snapshot
    per day (events up to and including that day) from hard links."""
    import datetime as dt
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    ev = pq.read_table(os.path.join(dirs.data, "events.parquet"))
    micros = ev.column("ts").cast(pa.int64()).to_numpy()
    day_of = (micros - np.datetime64("2024-01-01", "us").astype(np.int64)) // gen.US_PER_DAY
    day_dir = os.path.join(dirs.root, "days")
    os.makedirs(day_dir)
    days, day_bytes, snaps = [], [], []
    for d in range(plan["n_days"]):
        path = os.path.join(day_dir, f"day{d:02d}.parquet")
        pq.write_table(ev.take(np.nonzero(day_of == d)[0]), path)
        days.append((dt.date(2024, 1, 1) + dt.timedelta(days=d)).isoformat())
        day_bytes.append(os.path.getsize(path))
        snap = os.path.join(dirs.root, "snap", f"d{d:02d}", "events.parquet")
        os.makedirs(snap)
        for k in range(d + 1):
            os.link(os.path.join(day_dir, f"day{k:02d}.parquet"),
                    os.path.join(snap, f"day{k:02d}.parquet"))
        snaps.append(os.path.dirname(snap))
    return {"snapshots": snaps, "days": days, "day_bytes": day_bytes,
            "bootstrap_days": plan["bootstrap_days"], "ivf_batches": plan["ivf_batches"],
            "reads": plan["reads"],
            "ivf_delete_stride": plan["ivf_delete_stride"]}


# ---- one JVM ----------------------------------------------------------------------

def run_jvm(cp, dirs, spec):
    dirs.reset_state()
    spec = dict(spec, data_dir=dirs.data, lake_dir=dirs.lake, check_dir=dirs.check,
                spark_local_dir=dirs.local)
    spec_path = os.path.join(dirs.root, "spec.json")
    out_path = os.path.join(dirs.root, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    if os.path.exists(out_path):
        os.remove(out_path)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{spec['xmx']}", f"-Djava.io.tmpdir={dirs.tmp}",
        f"-Dderby.system.home={dirs.tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", spec_path, out_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs.local)
    log_path = os.path.join(dirs.root, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=dirs.root, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=spec.get("jvm_timeout_s", JVM_TIMEOUT_S))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        die(f"engine JVM failed ({rc})", 3)
    with open(out_path) as f:
        return json.load(f)


def oracle_check(dirs, res):
    """DuckDB oracle check of every key's first result, via tools/diff.py."""
    keys = [c["key"] for c in res["checked"]]
    if not keys:
        return {}, 0.0
    with open(os.path.join(dirs.check, "oracle_sql.json"), "w") as f:
        json.dump(res["oracle"], f)
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, DIFF, dirs.data, dirs.check] + keys,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdict = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name = line.split()[1].rstrip(":")
            verdict[name] = line[5:].strip()[:300]
    for k in keys:
        verdict.setdefault(k, f"{k}: no oracle verdict")
    return verdict, time.monotonic() - t0


def one_run(cp, dirs, args, trace, plan):
    spec = {
        "workload": args.workload, "seed": args.seed, "trace": bool(trace),
        "cores": args.cores, "shuffle_partitions": args.cores, "xmx": driver_mem(),
        "ops": plan["ops"], "fill_keys": plan["fill"],
    }
    if plan.get("lake"):
        spec["lake"] = plan["lake"]
    if args.corrupt_key:
        spec["corrupt_key"] = args.corrupt_key
    res = run_jvm(cp, dirs, spec)
    verdict, py_check_s = oracle_check(dirs, res)
    res["oracle_verdict"] = verdict
    res["check_py_s"] = py_check_s
    return res


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(opsmod.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--corrupt-key", help="self-test: corrupt this key's checked output")
    args = ap.parse_args(argv)

    for need in (ENGINE_SRC, DIFF, os.path.join(HERE, "keys.tsv"),
                 os.path.join(HERE, "tie_keys.txt")):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}; run from a full checkout")
    if not shutil.which("java") or not shutil.which("sbt"):
        die("java and sbt are required")

    t_start = time.time()
    cp = build()
    args.cores = nproc()
    cfg = opsmod.WORKLOADS[args.workload]
    sf = args.sf or cfg["sf"]
    plan = opsmod.op_list(args.workload, args.seed, args.seconds)
    load0 = loadavg()
    idle_cpu = foreign_load()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    dirs = RunDirs(tag)
    try:
        # lake_refresh reads only the events month and the embeddings
        lake = args.workload == "lake_refresh"
        gen.write(dirs.data, args.seed, sf, ("events", "embeddings") if lake else None)
        if lake:
            plan["lake"] = prepare_lake_inputs(dirs, plan["lake"])
        runs = {}
        ticks0 = cpu_ticks()
        if args.trace:
            runs["untraced"] = one_run(cp, dirs, args, False, plan)
        runs["main"] = one_run(cp, dirs, args, bool(args.trace), plan)
    finally:
        dirs.remove()

    busy, steal = cpu_share(ticks0, cpu_ticks())
    res = runs["main"]
    out = metrics.summarize(res, runs.get("untraced"), args.trace)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "git_commit": git_commit(),
        "source_digest": source_digest(), "nproc": args.cores,
        "master": f"local[{args.cores}]", "shuffle_partitions": args.cores,
        "xmx": driver_mem(), "loadavg_start": load0, "loadavg_end": loadavg(),
        "jvm_loadavg": [res.get("loadavg_start"), res.get("loadavg_end")],
        # CPU share used by other processes in the second before the run,
        # and the hypervisor steal share during it: both flag foreign load
        "foreign_cpu_share_at_start": idle_cpu,
        "foreign_load_at_start": idle_cpu > 0.25,
        "cpu_busy_share": busy, "cpu_steal_share": steal,
        "op_list": [[o["key"], o["client"]] for o in plan["ops"]],
        "fill_keys": plan["fill"], "info": out["info"], "errors": out["errors"],
        "ops": [[o["key"], o["client"], round(o["dur_s"], 6), o.get("error")]
                for o in res["ops"]],
        "elapsed_s": time.time() - t_start,
    }
    os.makedirs(RECORDS_DIR, exist_ok=True)
    rec_path = os.path.join(RECORDS_DIR, f"{tag}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    for e in out["errors"]:
        log(f"failed op: {e}")
    log(f"record: {os.path.relpath(rec_path, ROOT)}; {json.dumps(out['info'])}")
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0


def git_commit():
    """HEAD of the checkout, or None when it is not a git repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    sys.exit(main())
