#!/usr/bin/env python3
"""Rebuild keys.tsv: every declared key, its family, and its calibrated
cost (mean of a first and a second full-materialization call, seconds,
at the scale factor given, on local[nproc]).

    python3 perfbench/calibrate.py --sf 0.01 --seed 1 [--reports-only]

--reports-only re-measures the keys outside llm_/graph_ and keeps the
other keys' costs from the current keys.tsv.

The costs only order keys into sampling strata (ops.py); re-running this
changes which keys share a stratum, so it belongs to a change of the
benchmark, never to a change that claims a gain.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import ops as opsmod  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--chunk", type=int, default=100)
    ap.add_argument("--reports-only", action="store_true")
    args = ap.parse_args()
    old = {k: c for k, _, c in opsmod.load_keys()} if args.reports_only else {}
    cp = run.build()
    dirs = run.RunDirs(f"calibrate-{os.getpid()}")
    try:
        keys_txt = os.path.join(dirs.root, "keys.txt")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--list-keys", keys_txt], check=True)
        keys = open(keys_txt).read().split()
        gen.write(dirs.data, args.seed, args.sf)
        cost, fails = {}, []
        partial = os.path.join(run.BUILD_DIR, f"calibrate-sf{args.sf}-s{args.seed}.tsv")
        if os.path.exists(partial):  # resume an interrupted calibration
            for line in open(partial):
                k, c, err = line.rstrip("\n").split("\t")
                cost[k] = float(c)
                if err:
                    fails.append(err)
        todo = [k for k in keys if k not in cost and
                not (args.reports_only and k.startswith(("llm_", "graph_")))]
        for i in range(0, len(todo), args.chunk):
            ks = todo[i:i + args.chunk]
            spec = {"workload": "reports", "seed": args.seed, "trace": False,
                    "cores": run.nproc(), "shuffle_partitions": run.nproc(),
                    "xmx": run.driver_mem(), "fill_keys": [],
                    "jvm_timeout_s": 900,
                    "ops": [{"id": j + 1, "key": k, "client": 0}
                            for j, k in enumerate(ks + ks)]}
            res = run.run_jvm(cp, dirs, spec)
            verdict, _ = run.oracle_check(dirs, res)
            per = {}
            for o in res["ops"]:
                per.setdefault(o["key"], []).append(o["dur_s"])
                if o.get("error"):
                    fails.append(o["error"])
            for k, v in verdict.items():
                if v:
                    fails.append(v)
            with open(partial, "a") as f:
                for k, ds in per.items():
                    cost[k] = sum(ds) / len(ds)
                    errs = [o["error"] for o in res["ops"] if o["key"] == k and o.get("error")]
                    errs += [verdict[k]] if verdict.get(k) else []
                    f.write(f"{k}\t{cost[k]}\t{' | '.join(errs)}\n")
            print(f"calibrated {len(cost)}/{len(keys)}", file=sys.stderr, flush=True)
    finally:
        dirs.remove()
    with open(os.path.join(HERE, "keys.tsv"), "w") as f:
        scope = "keys outside llm_/graph_" if args.reports_only else "all keys"
        f.write(f"# key\tfamily\tcost_s (sf{args.sf}, seed {args.seed} for {scope}, "
                f"local[{run.nproc()}], mean of first and second call)\n")
        for k in keys:
            f.write(f"{k}\t{opsmod.family(k)}\t{cost.get(k, old.get(k, 0.0)):.4f}\n")
    for e in sorted(set(fails)):
        print(f"FAIL {e}")
    print(f"{len(keys)} keys, {len(set(fails))} failures")


if __name__ == "__main__":
    main()
