#!/usr/bin/env python3
"""Per-span wall, driver time, jobs and tasks of each traced CLI call, from a
perfbench results file.

    python3 tools/span_table.py <results.json> [<results.json> ...]

A results file is what `python3 perfbench/run.py ... --trace 1` writes under
`.bench_build/perfbench/results/`. Its traced half calls the CLI cores inside
top-level `cli.*` spans, in the order of its `traced` samples, so the n-th
top-level `cli.*` span is labelled with the n-th traced sample's kind
(`delta`, `replay` or `full`). Each call prints one row for itself and one
per child span (`checkpoint.stage`, `checkpoint.incremental_run`, ...), with
the call's wall share. Spans include their jobs' scheduling and the driver
work between jobs; `driver_s` is span wall not covered by any running job.
"""
import argparse
import json
import sys


def calls(result):
    """(kind, sample, call span, child spans) per traced CLI call."""
    spans = result["spans"]
    traced = [s for s in result["samples"] if s["phase"] == "traced"]
    tops = [i for i, s in enumerate(spans) if s["parent"] == -1 and s["name"].startswith("cli.")]
    if len(tops) != len(traced):
        sys.exit(f"{len(tops)} top-level cli.* spans but {len(traced)} traced samples: "
                 "not a traced run of this benchmark shape")
    for sample, i in zip(traced, tops):
        children = [s for s in spans if s["parent"] == i]
        yield sample["kind"], sample, spans[i], children


def table(path):
    with open(path) as fh:
        result = json.load(fh)
    print(f"# {path}")
    print(f"# workload {result['workload']}, seed {result['seed']}, "
          f"nproc {result['host'].get('nproc')}")
    print(f"{'call':<8} {'span':<30} {'wall_s':>7} {'share':>6} {'driver_s':>8} "
          f"{'jobs':>5} {'tasks':>6} {'steal_s':>7}")
    for n, (kind, sample, call, children) in enumerate(calls(result)):
        label = f"{kind}#{n}"
        print(f"{label:<8} {call['name']:<30} {call['wall_s']:7.3f} {'':>6} "
              f"{call['driver_s']:8.3f} {call['jobs']:5d} {call['tasks']:6d} "
              f"{sample['steal_s']:7.2f}")
        for c in children:
            share = c["wall_s"] / call["wall_s"] if call["wall_s"] else 0.0
            print(f"{'':<8} {'  ' + c['name']:<30} {c['wall_s']:7.3f} {share:6.0%} "
                  f"{c['driver_s']:8.3f} {c['jobs']:5d} {c['tasks']:6d}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("results", nargs="+", help="perfbench results JSON (a --trace 1 run)")
    for path in ap.parse_args().results:
        table(path)


if __name__ == "__main__":
    main()
