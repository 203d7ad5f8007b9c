#!/usr/bin/env python3
"""Pair perfbench runs of two source trees and gate them on load markers.

Usage, with each tree's runs made by `python3 perfbench/run.py` from that
tree's root:

    python3 tools/perfbench_pairs.py --workload build --since 1792403799 \
        parent=/path/to/parent-tree change=.

Each `LABEL=TREE` names a source tree; the first is the base side. The
tool reads `TREE/.bench_build/perfbench/records/*.run.json` of each tree
and keeps the untraced runs of `--workload`. The records dir keeps every
run ever made in the tree, so pick the experiment's runs with `--since`
(a start-time bound, in epoch seconds as `date +%s` prints it) or with
`--run ID`, once per run (the id as `run.py` prints it after `records`,
without the directory and the `.*`). Runs are paired only within one
seed: per seed, each side's runs are sorted by start time (the run id
ends in its start time in ns) and the i-th run of one side is paired
with the i-th of the other. The tool stops with an
error when a seed has a different number of runs on the two sides, as
the runs would not pair up. Alternate the order in which the two sides
run, so that each pair was taken in one window.

A pair is dropped when either load marker differs by more than
`--max-ratio` (default 1.25x) between its two runs. A run's marker is
the mean of the marker taken before and after its workload: the CPU
marker (an xxhash64 job) and the memory marker (an 8-thread array scan).

For each end-to-end metric that `run.json` carries, it prints the median
and quartiles of each side and of the per-pair ratio change/base, and
in how many kept pairs the change was lower (better; ties count for
neither side):
  - setup_s: the run's `setup_s`
  - cold_s: `build`: the timed cold build; `session`: the first pass
    (sum of its queries' wall times)
  - warm_s: `build`: median brick re-open; `session`: median warm pass
`store_mb` is not in `run.json`; take it from `run.py`'s own output.
"""
import argparse
import glob
import json
import os
import statistics
import sys

METRICS = ("setup_s", "cold_s", "warm_s")


def quartiles(xs):
    """(q1, median, q3), linear interpolation between closest ranks."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def metrics(run):
    """The end-to-end metrics one run.json carries."""
    out = {"setup_s": run["setup_s"]}
    if run["mode"] == "build":
        for r in run["rounds"]:
            if r.get("round") == "timed":
                out["cold_s"] = r["cold_s"]
            elif r.get("round") == "reopen":
                out["warm_s"] = statistics.median(r["warm_s"])
    else:
        passes = {}
        for q in run["queries"]:
            passes[q["pass"]] = passes.get(q["pass"], 0.0) + q["wall_s"]
        out["cold_s"] = passes.get("first")
        warm = [v for k, v in passes.items()
                if k.startswith("warm") and k != "warm0"]
        out["warm_s"] = statistics.median(warm) if warm else None
    return out


def marker(run, key):
    m = run[key]
    return (m["start"] + m["end"]) / 2


def load(tree, workload, since, ids):
    """The tree's untraced runs of `workload` that started at or after
    `since` (epoch s) and, when `ids` is given, whose id is in it."""
    runs = []
    pattern = os.path.join(tree, ".bench_build", "perfbench", "records",
                           "*.run.json")
    for path in glob.glob(pattern):
        stem = os.path.basename(path)[: -len(".run.json")]
        t = int(stem.rsplit("-", 1)[1])
        if t < since * 1e9 or (ids and stem not in ids):
            continue
        with open(path) as f:
            run = json.load(f)
        if run.get("mode") != workload or run.get("trace"):
            continue
        run["_id"], run["_t"] = stem, t
        runs.append(run)
    return runs


def pair(base, chg):
    """(base, change) run pairs: per seed, the i-th run of each side in
    start order. Exits when a seed's runs do not pair up one to one."""
    by_seed = {}
    for side, runs in enumerate((base, chg)):
        for r in runs:
            by_seed.setdefault(r["seed"], ([], []))[side].append(r)
    uneven = {s: (len(b), len(c)) for s, (b, c) in by_seed.items()
              if len(b) != len(c)}
    if uneven:
        sys.exit("runs per seed differ between the sides (seed: base, "
                 f"change): {uneven}; narrow them with --since or --run")
    pairs = []
    for b, c in by_seed.values():
        b.sort(key=lambda r: r["_t"])
        c.sort(key=lambda r: r["_t"])
        pairs.extend(zip(b, c))
    return sorted(pairs, key=lambda p: min(p[0]["_t"], p[1]["_t"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "session"])
    ap.add_argument("--max-ratio", type=float, default=1.25)
    ap.add_argument("--since", type=float, default=0,
                    help="ignore runs that started before this epoch time (s)")
    ap.add_argument("--run", action="append", default=[], metavar="RUN_ID",
                    help="use only these run ids (of either side); repeat "
                    "the flag once per run")
    ap.add_argument("trees", nargs=2, metavar="LABEL=TREE")
    a = ap.parse_args()
    (base_label, base_tree), (chg_label, chg_tree) = (
        t.split("=", 1) for t in a.trees)
    ids = set(a.run)
    base = load(base_tree, a.workload, a.since, ids)
    chg = load(chg_tree, a.workload, a.since, ids)
    if not base or not chg:
        sys.exit(f"no untraced {a.workload} runs: {base_label} "
                 f"{len(base)}, {chg_label} {len(chg)}")

    kept = []
    pairs = pair(base, chg)
    print(f"{'pair':>4} {'seed':>4} {'cpu ' + base_label:>14} "
          f"{'cpu ' + chg_label:>14} "
          f"{'mem ' + base_label:>14} {'mem ' + chg_label:>14}  kept")
    for i, (b, c) in enumerate(pairs, 1):
        ratios = []
        for key in ("load_marker_cpu_s", "load_marker_mem_s"):
            mb, mc = marker(b, key), marker(c, key)
            ratios.append(max(mb / mc, mc / mb))
        failed = b["failures"] or c["failures"]
        ok = max(ratios) <= a.max_ratio and not failed
        if ok:
            kept.append((metrics(b), metrics(c)))
        print(f"{i:>4} {b['seed']:>4} {marker(b, 'load_marker_cpu_s'):>14.3f} "
              f"{marker(c, 'load_marker_cpu_s'):>14.3f} "
              f"{marker(b, 'load_marker_mem_s'):>14.3f} "
              f"{marker(c, 'load_marker_mem_s'):>14.3f}  "
              f"{'yes' if ok else 'no (failures)' if failed else 'no'}")
    print(f"\n{a.workload}: kept {len(kept)} of {len(pairs)} pairs "
          f"(markers within {a.max_ratio}x)")
    if not kept:
        return
    print(f"{'metric':<8} {base_label + ' q1/med/q3':>26} "
          f"{chg_label + ' q1/med/q3':>26} {'ratio q1/med/q3':>24}  wins")
    fmt = "{:7.3f}/{:7.3f}/{:7.3f}"
    for m in METRICS:
        vals = [(b[m], c[m]) for b, c in kept
                if b.get(m) is not None and c.get(m) is not None]
        if not vals:
            continue
        bq = quartiles([b for b, _ in vals])
        cq = quartiles([c for _, c in vals])
        rq = quartiles([c / b for b, c in vals])
        wins = sum(1 for b, c in vals if c < b)
        print(f"{m:<8} {fmt.format(*bq):>26} {fmt.format(*cq):>26} "
              f"{'{:6.3f}/{:6.3f}/{:6.3f}'.format(*rq):>24}  "
              f"{wins}/{len(vals)}")


if __name__ == "__main__":
    main()
