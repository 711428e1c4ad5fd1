#!/usr/bin/env python3
"""Parent-vs-change comparison of perfbench results, paired by seed.

    python3 tools/bench_pairs.py --parent <results.json> ... --change <results.json> ...

Each results file is what `python3 perfbench/run.py --workload W --seed S
--trace 0` writes under `.bench_build/perfbench/results/`. Run the parent from
its own checkout (e.g. a `git archive` copy with its own `.bench_build`),
alternate which side runs first from seed to seed, and pass both sides' files
in any order: runs pair up by (workload, seed). It prints:

- per end-to-end metric (the `end_to_end` list of BENCHMARK.json): each
  pair's values, both medians, the parent's interquartile range, and how many
  pairs favour the change (ties count for neither side);
- per run: the largest per-sample host steal (`steal_s`, from /proc/stat);
- per call kind (`delta`, `replay`, `full`, ...): the first timed call's wall
  and the median of the later ones, since the JVM warms through the loop.
"""
import argparse
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load(paths):
    runs = {}
    for path in paths:
        with open(path) as fh:
            r = json.load(fh)
        key = (r["workload"], r["seed"])
        if key in runs:
            sys.exit(f"two runs of workload {key[0]} seed {key[1]} on one side: {path}")
        r["_path"] = path
        runs[key] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def metric_table(pairs, metrics):
    print(f"{'metric':<28} {'seed':>6} {'parent':>12} {'change':>12} {'change/parent':>14}")
    for name, better in metrics:
        rows = [(seed, p["metrics"].get(name, {}).get("value"), c["metrics"].get(name, {}).get("value"))
                for seed, p, c in pairs]
        rows = [(s, a, b) for s, a, b in rows if a is not None and b is not None]
        if not rows:
            continue
        wins = 0
        for seed, a, b in rows:
            ratio = b / a if a else float("nan")
            if (b < a) if better == "lower" else (b > a):
                wins += 1
            print(f"{name:<28} {seed:>6} {a:12.4f} {b:12.4f} {ratio:14.3f}")
        pv, cv = [a for _, a, _ in rows], [b for _, _, b in rows]
        pm, cm = statistics.median(pv), statistics.median(cv)
        q1, q3 = quartiles(pv)
        print(f"{name:<28} {'median':>6} {pm:12.4f} {cm:12.4f} {cm / pm if pm else float('nan'):14.3f}"
              f"   parent IQR {q3 - q1:.4f}, |median diff| {abs(cm - pm):.4f},"
              f" change better in {wins}/{len(rows)} ({better} is better)")
    print()


def steal_table(pairs):
    print(f"{'seed':>6} {'side':<7} {'max steal_s':>11}  file")
    for seed, p, c in pairs:
        for side, r in (("parent", p), ("change", c)):
            steal = max((s.get("steal_s", 0.0) for s in r["samples"]), default=0.0)
            print(f"{seed:>6} {side:<7} {steal:11.2f}  {r['_path']}")
    print()


def walls(r):
    """kind -> timed walls in call order."""
    out = {}
    for s in r["samples"]:
        if s["phase"] == "timed":
            out.setdefault(s["kind"], []).append(s["wall_s"])
    return out


def kind_table(pairs):
    print(f"{'kind':<8} {'seed':>6} {'parent first':>12} {'later p50':>10} "
          f"{'change first':>12} {'later p50':>10}")
    kinds = sorted({k for _, p, c in pairs for k in list(walls(p)) + list(walls(c))})
    for kind in kinds:
        firsts, laters = {"p": [], "c": []}, {"p": [], "c": []}
        for seed, p, c in pairs:
            cells = []
            for side, r in (("p", p), ("c", c)):
                w = walls(r).get(kind, [])
                first = w[0] if w else None
                later = statistics.median(w[1:]) if len(w) > 1 else None
                if first is not None:
                    firsts[side].append(first)
                if later is not None:
                    laters[side].append(later)
                cells += [f"{first:12.3f}" if first is not None else f"{'-':>12}",
                          f"{later:10.3f}" if later is not None else f"{'-':>10}"]
            print(f"{kind:<8} {seed:>6} " + " ".join(cells))

        def med(xs, width):
            return f"{statistics.median(xs):{width}.3f}" if xs else f"{'-':>{width}}"
        print(f"{kind:<8} {'median':>6} {med(firsts['p'], 12)} {med(laters['p'], 10)} "
              f"{med(firsts['c'], 12)} {med(laters['c'], 10)}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True, help="parent results JSON files")
    ap.add_argument("--change", nargs="+", required=True, help="change results JSON files")
    args = ap.parse_args()
    parent, change = load(args.parent), load(args.change)
    with open(BENCHMARK) as fh:
        metrics = [(m["name"], m["better"]) for m in json.load(fh)["end_to_end"]]
    for workload in sorted({w for w, _ in parent} | {w for w, _ in change}):
        seeds = sorted(s for w, s in parent if w == workload and (w, s) in change)
        unpaired = sorted(s for w, s in list(parent) + list(change)
                          if w == workload and s not in seeds)
        print(f"## {workload}: {len(seeds)} pair(s)"
              + (f", unpaired seeds {unpaired}" if unpaired else ""))
        pairs = [(s, parent[(workload, s)], change[(workload, s)]) for s in seeds]
        if not pairs:
            continue
        metric_table(pairs, metrics)
        steal_table(pairs)
        kind_table(pairs)


if __name__ == "__main__":
    main()
