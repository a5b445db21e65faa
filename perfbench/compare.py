#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each a directory of result files (the `*.json` files
`run.py` keeps under `.bench_out/results/<workload>/`, searched
recursively) or a list of such files separated by commas. Untraced runs
only. For every workload and every end-to-end metric of BENCHMARK.json it
prints each side's median and quartiles, the pairs the change won, and a
verdict:

- improved: the change wins at least 9 in 10 of at least 10 pairs (ties
  count for neither side), and the medians differ by more than the
  distance between the parent's quartiles;
- worse: the change's median is worse than the parent's by more than the
  metric's bound (a share of the parent's median);
- unresolved: neither, and the parent's own spread (quartile distance over
  median) is wider than the bound, unless every change run is better than
  every parent run;
- unchanged: otherwise.

Runs pair by seed where both sides ran the same seed, and by run order
otherwise.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(arg):
    paths = []
    for part in arg.split(","):
        p = Path(part)
        paths += sorted(p.rglob("*.json")) if p.is_dir() else [p]
    runs = {}
    for p in paths:
        if p.name.endswith(".trace.json"):
            continue
        r = json.loads(p.read_text())
        if r.get("trace") or "end_to_end" not in r:
            continue
        runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(parent, change):
    """Pair runs by seed (in run order within a seed), then the rest by
    run order."""
    out, rest_p, rest_c = [], [], []
    seeds = {r["seed"] for r in parent} & {r["seed"] for r in change}
    for s in sorted(seeds):
        ps = [r for r in parent if r["seed"] == s]
        cs = [r for r in change if r["seed"] == s]
        out += list(zip(ps, cs))
        rest_p += ps[len(cs):]
        rest_c += cs[len(ps):]
    rest_p += [r for r in parent if r["seed"] not in seeds]
    rest_c += [r for r in change if r["seed"] not in seeds]
    return out + list(zip(rest_p, rest_c))


def verdict(spec, pv, cv, prs):
    lower = spec["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    name = spec["name"]
    wins = sum(1 for p, c in prs if better(c["end_to_end"][name], p["end_to_end"][name]))
    p1, pm, p3 = quartiles(pv)
    _, cm, _ = quartiles(cv)
    gain = (pm - cm) if lower else (cm - pm)
    spread = (p3 - p1) / pm if pm else float("inf")
    if len(prs) >= 10 and wins >= 0.9 * len(prs) and gain > p3 - p1:
        v = "improved"
    elif -gain > spec["bound"] * abs(pm):
        v = "worse"
    elif spread > spec["bound"] and not all(better(c, p) for c in cv for p in pv):
        v = "unresolved"
    else:
        v = "unchanged"
    return v, wins


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    fmt = "{:<18} {:<27} {:>30} {:>30} {:>7}  {}"
    print(fmt.format("workload", "metric", "parent median [q1, q3]",
                     "change median [q1, q3]", "won", "verdict"))
    for w in spec["workloads"]:
        name = w["name"]
        ps, cs = parent.get(name, []), change.get(name, [])
        if not ps or not cs:
            print(f"{name:<18} no runs on {'parent' if not ps else 'change'}")
            continue
        prs = pairs(ps, cs)
        for m in spec["end_to_end"]:
            pv = [r["end_to_end"][m["name"]] for r in ps]
            cv = [r["end_to_end"][m["name"]] for r in cs]
            v, wins = verdict(m, pv, cv, prs)
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            print(fmt.format(name, f"{m['name']} ({m['unit']})",
                             f"{pm:.4g} [{p1:.4g}, {p3:.4g}]",
                             f"{cm:.4g} [{c1:.4g}, {c3:.4g}]",
                             f"{wins}/{len(prs)}", v))
        fails = sum(r["failed"] for r in cs), sum(r["attempted"] for r in cs)
        print(f"{name:<18} change fail_frac {fails[0]}/{fails[1]}; "
              f"runs: parent {len(ps)}, change {len(cs)}")


if __name__ == "__main__":
    main()
