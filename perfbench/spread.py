#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload reports --seeds 1-10 --seconds 12

Runs the benchmark once per seed and prints, per end-to-end metric, the
median, the interquartile distance as a share of the median (the figure a
metric's bound in BENCHMARK.json is compared with), and every value. Each
run's result line is appended to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    vals = {}
    for s in seeds(args.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(s), "--seconds", args.seconds,
                            "--trace", args.trace], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            continue
        line = p.stdout.strip().splitlines()[-1]
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": s,
                                    "result": json.loads(line)}) + "\n")
        res = json.loads(line)
        rec = p.stderr.split("record: ")[-1].split(";")[0]
        with open(os.path.join(ROOT, rec)) as f:
            r = json.load(f)
        print(f"seed {s}: steal={r['cpu_steal_share']:.3f} foreign={r['foreign_cpu_share_at_start']:.3f} "
              f"elapsed={r['elapsed_s']:.1f} failed={res['failed']}/{res['attempted']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    for k, xs in vals.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q = statistics.quantiles(xs, n=4)
            iqr = (q[2] - q[0]) / med if med else float("nan")
        else:
            iqr = float("nan")
        print(f"{k:24s} median={med:.5g} iqr/median={iqr:.4f} values={[round(x, 4) for x in xs]}")


if __name__ == "__main__":
    main()
