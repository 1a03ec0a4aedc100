#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with tiny op lists.

    python3 perfbench/selftest.py

Asserts, for every workload:
  * an untraced run prints every end-to-end metric, and a traced run every
    per-layer metric, each with its unit;
  * the traced run's spans nest (each child inside its parent, no
    negative self time);
  * a corrupted output is caught (reports: one key's checked rows lose a
    row; lake_refresh: one incrementally maintained table gains a
    duplicated row before it is compared with the rebuild);
that the same seed gives the same op list while another seed gives a
different sample, that reports never samples a key of tie_keys.txt or
one above its cost cap and runs each key twice, and that BENCHMARK.json names the metrics runs print.
Exits non-zero on the first failed assertion.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import ops as opsmod  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--sf", "0.001",
                        "--seconds", "1", *args], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    assert p.returncode == 0, f"run {args} failed:\n{p.stderr[-3000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    rec = re.search(r"record: (\S+);", p.stderr).group(1)
    with open(os.path.join(ROOT, rec)) as f:
        return out, json.load(f), p.stderr


def check_names(out, expected):
    got = out["metrics"]
    assert set(got) == set(expected), f"metric names {sorted(set(got) ^ set(expected))}"
    for k, unit in expected.items():
        assert got[k]["unit"] == unit, f"{k}: unit {got[k]['unit']} != {unit}"
        assert isinstance(got[k]["value"], (int, float)), f"{k}: not a number"


def check_benchmark_json():
    """BENCHMARK.json names exactly the metrics, with the units, that runs print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    for field, expected in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in b[field]}
        assert got == expected, f"BENCHMARK.json {field}: {sorted(set(got.items()) ^ set(expected.items()))}"
    assert {w["name"] for w in b["workloads"]} <= set(opsmod.WORKLOADS)


def main():
    check_benchmark_json()
    for w in opsmod.WORKLOADS:
        a = opsmod.op_list(w, 1, 15)
        assert a == opsmod.op_list(w, 1, 15), f"{w}: op list not reproducible"
        if w != "lake_refresh":  # its op list is fixed; the seed varies its data
            assert a["ops"] != opsmod.op_list(w, 2, 15)["ops"], f"{w}: seed does not vary"
            keys = {o["key"] for o in a["ops"]}
            b = {o["key"] for o in opsmod.op_list(w, 2, 15)["ops"]}
            assert keys != b, f"{w}: another seed drew the same sample"
    ties = opsmod.load_tie_keys()
    cost = {k: c for k, _, c in opsmod.load_keys()}
    for seed in range(1, 41):
        ops = [o["key"] for o in opsmod.op_list("reports", seed, 20)["ops"]]
        assert not ties & set(ops), f"reports seed {seed} samples a rounding-tie key"
        assert max(cost[k] for k in ops) <= opsmod.WORKLOADS["reports"]["max_cost_s"], seed
        assert all(ops.count(k) == 2 for k in ops), f"reports seed {seed}: a key not run twice"
    print("selftest: op lists reproducible per seed, varied across seeds")

    for w in opsmod.WORKLOADS:
        out, rec, _ = bench("--workload", w, "--seed", "3", "--trace", "0")
        check_names(out, metrics.END_TO_END)
        assert out["attempted"] >= 1 and out["failed"] == 0, f"{w}: {out}"
        out, rec, _ = bench("--workload", w, "--seed", "3", "--trace", "1")
        check_names(out, metrics.PER_LAYER)
        assert not rec["info"]["span_problems"], f"{w}: {rec['info']['span_problems']}"
        assert out["metrics"]["operators.jobs"]["value"] > 0 or w == "lake_refresh", w
        print(f"selftest: {w}: metrics named with units, spans nest")

    key = opsmod.op_list("reports", 4, 1)["ops"][0]["key"]
    out, _, err = bench("--workload", "reports", "--seed", "4", "--corrupt-key", key)
    assert out["failed"] >= 1 and not out["correct"], f"corruption of {key} not caught"
    assert key in err, "the failed key is not named"
    out, _, err = bench("--workload", "lake_refresh", "--seed", "4",
                        "--corrupt-key", "monthly_usage")
    assert out["failed"] >= 1 and "incremental_monthly_usage" in err
    print("selftest: corrupted outputs are caught and named")
    print("selftest: OK")


if __name__ == "__main__":
    main()
