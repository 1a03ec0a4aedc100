#!/usr/bin/env python3
"""Find the keys whose DuckDB oracle check fails on a DOUBLE rounding tie,
and write them to tie_keys.txt.

    python3 perfbench/ties.py --seeds 1-60

The engine's round(x, d) on a DOUBLE rounds the decimal string of x half
up (Spark's semantics); DuckDB, the oracle, rounds the binary value. The
two differ when that string ends in a 5 one digit past d while the binary
value lies on the zero side of it: -47.26425 is stored as
-47.264249999..., so the engine returns -47.2643 and DuckDB -47.2642, and
the oracle check fails that op.

For each seed the script generates the inputs, runs every oracle query of
the reports population in DuckDB with each round() replaced by a version
that raises on exactly that case, and names the keys where it is raised
(a tie in a row that the query later drops still counts). Keys named on
any seed are left out of the reports sample by ops.py. The list is a
property of the engine and the oracle, not of the code's speed; rebuild
it when either changes.
"""
import argparse
import json
import multiprocessing
import os
import re
import shutil
import subprocess
import sys
from decimal import ROUND_HALF_UP, Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import ops as opsmod  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ROUND = re.compile(r"\bround\s*\(", re.I)

# round() of a DOUBLE that lands on a tie and the two rules disagree:
# raise; otherwise behave as round()
TIE_ROUND = """CREATE MACRO tie_round(x, d) AS CASE
  WHEN typeof(x) IN ('DOUBLE', 'FLOAT') AND isfinite(x)
       AND abs(abs(x) * pow(10, d) - floor(abs(x) * pow(10, d)) - 0.5)
           < 1e-9 * (1 + abs(x) * pow(10, d))
  THEN CASE WHEN engine_round(x::DOUBLE, d::BIGINT) IS DISTINCT FROM round(x::DOUBLE, d)
            THEN error('rounding tie at ' || x::VARCHAR) ELSE round(x, d) END
  ELSE round(x, d) END"""


def engine_round(x, d):
    """The engine's rule: the shortest decimal string of x, rounded half up."""
    if x is None or d is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-d), ROUND_HALF_UP))


def rewrite(sql):
    """Replace every round(x[, d]) in `sql` with tie_round(x, d)."""
    out, i = [], 0
    while True:
        m = ROUND.search(sql, i)
        if not m:
            return "".join(out) + sql[i:]
        out.append(sql[i:m.start()])
        j, depth, args, start = m.end(), 1, [], m.end()
        while depth:
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                args.append(sql[start:j])
                start = j + 1
            elif c == "'":
                j = sql.index("'", j + 1)
            j += 1
        args.append(sql[start:j - 1])
        x = rewrite(args[0])
        d = rewrite(args[1]) if len(args) > 1 else "0"
        out.append(f"tie_round({x}, {d})")
        i = j


def scan(job):
    """Keys whose oracle query meets a disagreeing tie on one seed's inputs."""
    import duckdb
    seed, sf, oracle, keys, root = job
    data = os.path.join(root, f"s{seed}")
    gen.write(data, seed, sf)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    con.create_function("engine_round", engine_round,
                        [duckdb.typing.DOUBLE, duckdb.typing.BIGINT], duckdb.typing.DOUBLE,
                        null_handling="special")
    con.execute(TIE_ROUND)
    hits = []
    for k in keys:
        try:
            con.execute(rewrite(oracle[k])).fetchall()
        except duckdb.Error as e:
            if "rounding tie at" not in str(e):
                raise
            hits.append(k)
    con.close()
    shutil.rmtree(data)
    return seed, hits


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-60", help="a-b or a,b,c")
    args = ap.parse_args()
    sf = opsmod.WORKLOADS["reports"]["sf"]
    if "-" in args.seeds:
        a, b = args.seeds.split("-")
        seeds = list(range(int(a), int(b) + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    cp = run.build()
    dirs = run.RunDirs(f"ties-{os.getpid()}")
    try:
        sql_path = os.path.join(dirs.root, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracle-sql", sql_path],
                       check=True)
        with open(sql_path) as f:
            oracle = json.load(f)
        keys = [k for k in sorted(oracle) if not k.startswith(("llm_", "graph_"))]
        jobs = [(s, sf, oracle, keys, dirs.data) for s in seeds]
        seen = {}
        with multiprocessing.Pool(2) as pool:
            for seed, hits in pool.imap_unordered(scan, jobs):
                print(f"seed {seed}: {' '.join(hits) or '-'}", file=sys.stderr, flush=True)
                for k in hits:
                    seen.setdefault(k, []).append(seed)
    finally:
        dirs.remove()
    with open(os.path.join(HERE, "tie_keys.txt"), "w") as f:
        f.write(f"# keys whose oracle check fails on a DOUBLE rounding tie (ties.py, "
                f"sf{sf}, seeds {args.seeds}); key, then the share of seeds it fails on\n")
        for k in sorted(seen):
            f.write(f"{k}\t{len(seen[k]) / len(seeds):.3f}\n")
    print(f"{len(seen)} of {len(keys)} keys fail on a rounding tie on some of {len(seeds)} seeds")


if __name__ == "__main__":
    main()
