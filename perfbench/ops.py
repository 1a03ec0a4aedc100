"""Workload definitions and seeded op-list generation.

The key population comes from keys.tsv (every declared key, its family,
and its calibrated full-materialization cost at 4 cores). Samples are
stratified by that cost: the population is sorted by cost and cut into
as many equal bins as keys are wanted, and the seed picks one key per
bin. Every seed therefore draws a different sample with the same cost
profile, which keeps a run's total work steady from seed to seed.
"""
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

# graph keys built on the symmetric by-vertex wedge frame (symByV)
WEDGE = {"graph_avg_neighbor_degree", "graph_common_neighbors",
         "graph_jaccard_neighbors", "graph_adamic_adar",
         "graph_resource_alloc", "graph_pref_attachment"}

# sub-families of the llm_/graph_ population, matched in this order
SUBFAMILIES = [
    ("wedge", lambda k: k in WEDGE),
    ("graph_loops", lambda k: k.startswith("graph_")),
    ("sim_join", lambda k: k.startswith("llm_sim_join")),
    ("minhash_dedup", lambda k: any(t in k for t in (
        "minhash", "dedup", "neardup", "dup_", "_dups", "simhash", "winnowing",
        "fingerprint", "decontaminate", "containment"))),
    ("ann_ivf_pq", lambda k: any(t in k for t in (
        "_ann_", "ivf", "_pq", "cosine", "knn", "embedding", "mmr", "hard_negatives",
        "centroid", "cluster", "calinski", "silhouette"))),
    ("text", lambda k: True),
]

# pin- and persist-heavy sub-families driven concurrently by shared_session
SHARED_SUBFAMILIES = ("graph_loops", "wedge", "minhash_dedup", "sim_join")

LAKE_TABLES = ["monthly_usage", "sessions", "user_lifetime", "churn_daily", "type_reach"]

# Per-workload sizing: sampled keys per second of --seconds, chosen from
# keys.tsv so that a run's timed ops take about --seconds on 4 cores.
# reports leaves out keys above max_cost_s, the four that cost 3-5 s (over
# 1.6x the next). Drawn for the top cost bin (one sample in five), one of
# them takes 5-10 s over its two calls where a typical key of that bin
# takes about 3 s. Over 100 sets of ten seeds the calibrated cost of the
# samples spread (interquartile distance / median) 0.07 in the median set
# and 0.22 in the ninetieth-percentile set; without them 0.03 and 0.04.
WORKLOADS = {
    "reports": {"sf": 0.01, "keys_per_s": 0.8, "min_keys": 3, "max_cost_s": 2.5},
    "llm_graph": {"sf": 0.01, "keys_per_s": 0.67, "min_keys": 6},
    "lake_refresh": {"sf": 0.1},
    "shared_session": {"sf": 0.01, "keys_per_s": 0.5, "min_keys": 4},
}


def load_keys(path=os.path.join(HERE, "keys.tsv")):
    """[(key, family, cost_s)] in file order."""
    out = []
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            key, fam, cost = line.rstrip("\n").split("\t")[:3]
            out.append((key, fam, float(cost)))
    return out


def load_tie_keys(path=os.path.join(HERE, "tie_keys.txt")):
    """Keys whose oracle check fails on a DOUBLE rounding tie (ties.py)."""
    with open(path) as f:
        return {l.split("\t")[0] for l in f if l.strip() and not l.startswith("#")}


def family(key):
    if key.startswith(("llm_", "graph_")):
        return next(name for name, match in SUBFAMILIES if match(key))
    return key.split("_")[0]


def stratified(keys, n, rng):
    """One key from each of n equal cost bins of `keys` ([(key, cost)])."""
    ranked = sorted(keys, key=lambda kc: (kc[1], kc[0]))
    n = max(1, min(n, len(ranked)))
    picks = []
    for b in range(n):
        lo = b * len(ranked) // n
        hi = max(lo + 1, (b + 1) * len(ranked) // n)
        picks.append(ranked[rng.randrange(lo, hi)][0])
    return picks


def covering(keys, n, groups, rng):
    """A stratified sample of n keys that holds at least one key of every
    group in `groups` (a sub-family absent from the sample is swapped in
    for the sampled key nearest to it in cost)."""
    pick = stratified(keys, n, rng)
    cost = dict(keys)
    for g in groups:
        if any(family(k) == g for k in pick):
            continue
        members = sorted(k for k, _ in keys if family(k) == g)
        if not members:
            continue
        new = rng.choice(members)
        counts = {}
        for k in pick:
            counts[family(k)] = counts.get(family(k), 0) + 1
        # replace a key of the best-represented group, closest in cost
        donors = [k for k in pick if counts[family(k)] > 1 and family(k) != g]
        if not donors:
            pick.append(new)
            continue
        victim = min(donors, key=lambda k: (abs(cost[k] - cost[new]), k))
        pick[pick.index(victim)] = new
    return pick


def interleave(first, second, rng):
    """Merge two orders of the same keys into one op list in which each
    key's second call comes after its first; the seed picks, step by step,
    which order goes next. First and second calls then both spread over
    the whole run instead of filling one half of it each."""
    done, out, i, j = set(), [], 0, 0
    while j < len(second):
        if i < len(first) and (second[j] not in done or rng.random() < 0.5):
            done.add(first[i])
            out.append(first[i])
            i += 1
        else:
            out.append(second[j])
            j += 1
    return out


def n_keys(cfg, seconds):
    return max(cfg["min_keys"], round(seconds * cfg["keys_per_s"]))


def op_list(workload, seed, seconds, keys=None):
    """The fixed op list of a run: [{"id", "key", "client"}], plus the keys
    set-up runs once to fill stored state."""
    keys = keys if keys is not None else load_keys()
    rng = random.Random(f"{workload}:{seed}")
    cfg = WORKLOADS[workload]
    cost = [(k, c) for k, _, c in keys]
    if workload == "reports":
        # keys that fail the oracle on a rounding tie (the engine rounds a
        # DOUBLE's decimal string, DuckDB its binary value) are left out
        ties = load_tie_keys()
        pop = [(k, c) for k, c in cost if not k.startswith(("llm_", "graph_"))
               and k not in ties and c <= cfg["max_cost_s"]]
        sample = stratified(pop, n_keys(cfg, seconds), rng)
        first, second = sample[:], sample[:]
        rng.shuffle(first)
        rng.shuffle(second)
        ops = [(k, 0) for k in interleave(first, second, rng)]
        fill = []
    elif workload == "llm_graph":
        pop = [(k, c) for k, c in cost if k.startswith(("llm_", "graph_"))]
        sample = covering(pop, n_keys(cfg, seconds), [g for g, _ in SUBFAMILIES], rng)
        first, second = sample[:], sample[:]
        rng.shuffle(first)
        rng.shuffle(second)
        ops = [(k, 0) for k in interleave(first, second, rng)]
        fill = sorted(sample)
    elif workload == "shared_session":
        pop = [(k, c) for k, c in cost if family(k) in SHARED_SUBFAMILIES]
        sample = covering(pop, n_keys(cfg, seconds), SHARED_SUBFAMILIES, rng)
        a, b = sample[:], sample[:]
        rng.shuffle(a)
        rng.shuffle(b)
        ops = [(k, 0) for k in a] + [(k, 1) for k in b]
        fill = sorted(sample)
    elif workload == "lake_refresh":
        return {"ops": [], "fill": [], "lake": lake_plan(seconds)}
    else:
        raise ValueError(f"unknown workload {workload}")
    return {"ops": [{"id": i + 1, "key": k, "client": c} for i, (k, c) in enumerate(ops)],
            "fill": fill}


def lake_plan(seconds):
    """Days of the 30-day events month: a bootstrap window, then one batch
    per day; the day count grows with --seconds."""
    boot = 5
    days = min(30, boot + max(1, round(seconds / 10.0)))
    return {"bootstrap_days": boot, "n_days": days, "reads": LAKE_TABLES,
            "ivf_batches": 2, "ivf_delete_stride": 7}
