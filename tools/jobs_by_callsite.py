#!/usr/bin/env python3
"""Spark jobs, tasks and job wall time per graft call site, from an event log.

    python3 tools/jobs_by_callsite.py <event log> [--depth 2] [--top 40]
        [--results <results.json> [--span <name>[#k]]]

The log is a file Spark wrote with `spark.eventLog.enabled=true`: plain JSON
lines, or `.zstd`-compressed (Spark's default codec), which is read through
the `zstd -dc` command. A rolling-log directory (`eventlog_v2_*`) works too;
its `events_*` files are read in order.

Each job is charged to the first `graft.` frames of its call stack, taken
from the stage `Details` of the job's first stage, else from the call stack
of the SQL execution the job ran for (`SparkListenerSQLExecutionStart`
details). `--depth N` joins the N innermost graft frames (default 2), so a
shared helper such as `Dedup.countingWrite` shows with the frame that called
it. Frames of the benchmark harness (`graft.perfbench`) are skipped. A stage
is charged to the running job that submitted it; tasks are counted from
`SparkListenerTaskEnd`. Wall is a job's submission to completion; the share
is of the summed wall of all jobs in the log.

A perfbench job carries the id of the span open when it was submitted (the
`graft.perfbench.span` job property; ids index the results file's `spans`).
With `--results` (the results file of the same `--trace 1` perfbench run), a
job with no graft frame is charged to its span's name in brackets, e.g.
`[suite.uniqueness]`: the traced CLI calls run their actions from the
harness, whose frames are skipped. With `--span` as well, only the jobs of
one traced call's span are charged: a job counts when its span is an
instance named `<name>` or one of its descendants. `<name>#k` keeps only the
k-th instance (from 0), e.g. `cli.pipeline#0` is the first traced pipeline
call, a delta.

Recording a log without touching the benchmark (the JVM reads `spark.*`
system properties into its SparkConf):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
        python3 perfbench/run.py --workload pipeline_deltas --seed 1301 --seconds 5 --trace 0
    python3 tools/jobs_by_callsite.py /tmp/ev/eventlog_v2_local-*

Create the `-Dspark.eventLog.dir` directory before the run.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

NO_FRAME = "(no graft frame: harness or Spark)"


def event_lines(path):
    """Yields the JSON lines of an event log file or rolling-log directory."""
    if os.path.isdir(path):
        files = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        for f in files:
            yield from event_lines(os.path.join(path, f))
        return
    if path.endswith(".zstd") or path.endswith(".zst"):
        proc = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE, text=True)
        yield from proc.stdout
        if proc.wait() != 0:
            sys.exit(f"zstd -dc {path} failed")
    else:
        with open(path) as f:
            yield from f


def call_site(stack, depth):
    """The `depth` innermost graft frames of a stack, as `Class.method:line`."""
    frames = []
    for line in (stack or "").splitlines():
        line = line.strip()
        if not line.startswith("graft.") or line.startswith("graft.perfbench"):
            continue
        # graft.ops.Dedup$.countingWrite(Dedup.scala:805) -> Dedup.countingWrite:805;
        # a closure frame ($anonfun$write$1) names its enclosing method
        head, _, loc = line.partition("(")
        parts = head.split(".")
        cls = parts[-2].split("$")[0] if len(parts) > 1 else head
        method = parts[-1]
        if method.endswith("$adapted"):
            continue
        if method.startswith("$anonfun$"):
            method = method[len("$anonfun$"):].split("$")[0]
        frame = f"{cls}.{method}:{loc.rstrip(')').rpartition(':')[2]}"
        if frames and frames[-1] == frame:
            continue
        frames.append(frame)
        if len(frames) == depth:
            break
    return " < ".join(frames) if frames else NO_FRAME


def span_names(results_path):
    """Span id (as the job property prints it) -> span name, from a
    perfbench results file."""
    with open(results_path) as fh:
        return {str(i): s["name"] for i, s in enumerate(json.load(fh)["spans"])}


def site_or_span(site, span, names):
    """`site`, or the bracketed name of the job's span when the job has no
    graft frame and ran in a known span."""
    if site == NO_FRAME and span is not None and str(span) in names:
        return f"[{names[str(span)]}]"
    return site


def span_ids(results_path, spec):
    """Ids of the span instances `spec` names (`name` or `name#k`) and of
    all their descendants, from a perfbench results file."""
    with open(results_path) as fh:
        spans = json.load(fh)["spans"]
    name, _, k = spec.partition("#")
    roots = [i for i, s in enumerate(spans) if s["name"] == name]
    if k:
        roots = roots[int(k):int(k) + 1]
    if not roots:
        sys.exit(f"no span instance {spec} in {results_path}")
    ids = set(roots)
    for i, s in enumerate(spans):  # a parent always precedes its children
        if s["parent"] in ids:
            ids.add(i)
    return {str(i) for i in ids}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="event log file (plain or .zstd) or eventlog_v2_* directory")
    ap.add_argument("--depth", type=int, default=2, help="graft frames per call site")
    ap.add_argument("--top", type=int, default=40, help="rows to print")
    ap.add_argument("--results", help="perfbench results JSON of the same --trace 1 run")
    ap.add_argument("--span", help="charge only this span's jobs: name or name#k (needs --results)")
    a = ap.parse_args()
    if a.span and not a.results:
        ap.error("--span needs --results")
    only = span_ids(a.results, a.span) if a.span else None
    names = span_names(a.results) if a.results else {}

    sql_stack = {}            # execution id -> call stack
    job_site = {}             # job id -> call site
    job_start = {}            # job id -> submission ms
    job_stages = {}           # running job id -> stage ids
    stage_job = {}            # stage id -> job id that submitted it
    per = collections.defaultdict(lambda: [0, 0, 0.0])  # site -> jobs, tasks, wall s

    for line in event_lines(a.log):
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sql_stack[str(e["executionId"])] = e.get("details", "")
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            if only is not None and props.get("graft.perfbench.span") not in only:
                continue
            infos = sorted(e.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            stack = infos[0].get("Details", "") if infos else ""
            if call_site(stack, 1) == NO_FRAME:
                exec_id = props.get("spark.sql.execution.id")
                stack = sql_stack.get(exec_id, stack)
            site = site_or_span(call_site(stack, a.depth), props.get("graft.perfbench.span"), names)
            job_site[jid] = site
            job_start[jid] = e["Submission Time"]
            job_stages[jid] = set(e.get("Stage IDs", []))
            per[site][0] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            owners = [j for j, st in job_stages.items() if sid in st]
            if owners:
                stage_job[sid] = max(owners)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is not None:
                per[job_site[jid]][1] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                per[job_site[jid]][2] += (e["Completion Time"] - job_start[jid]) / 1000.0
            job_stages.pop(jid, None)

    total_wall = sum(v[2] for v in per.values()) or 1.0
    total_jobs = sum(v[0] for v in per.values())
    total_tasks = sum(v[1] for v in per.values())
    rows = sorted(per.items(), key=lambda kv: -kv[1][2])
    print(f"{'jobs':>5} {'tasks':>6} {'wall_s':>8} {'share':>6}  call site")
    for site, (jobs, tasks, wall) in rows[:a.top]:
        print(f"{jobs:5d} {tasks:6d} {wall:8.2f} {wall / total_wall:6.1%}  {site}")
    if len(rows) > a.top:
        rest = rows[a.top:]
        print(f"{sum(v[0] for _, v in rest):5d} {sum(v[1] for _, v in rest):6d} "
              f"{sum(v[2] for _, v in rest):8.2f} {sum(v[2] for _, v in rest) / total_wall:6.1%}"
              f"  ({len(rest)} more call sites)")
    print(f"{total_jobs:5d} {total_tasks:6d} {total_wall:8.2f} {1:6.1%}  total")


if __name__ == "__main__":
    main()
