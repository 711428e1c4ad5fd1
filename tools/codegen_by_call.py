#!/usr/bin/env python3
"""Janino compiles and compile ms per graft call site and per traced CLI call,
from a driver log and an event log.

    python3 tools/codegen_by_call.py <driver log> <event log> [--results <results.json>]
        [--depth 2] [--top 40] [--variants 5] [--largest N]

The driver log is what a Spark JVM writes under
`tools/log4j2-codegen.properties`: Spark's `CodeGenerator` logs a class's
source at DEBUG each time it compiles one (a codegen-cache hit logs nothing),
then "Code generated in N ms". The event log is a file Spark wrote with
`spark.eventLog.enabled=true` (plain, `.zstd` or a rolling-log directory, read
as `tools/jobs_by_callsite.py` reads it). Record both in one run:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$PWD/tools/log4j2-codegen.properties \\
      -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 perfbench/run.py --workload code_table --seed 1403 --seconds 5 --trace 1
    python3 tools/codegen_by_call.py .bench_build/perfbench/results/code_table-seed1403-trace1-*.log \\
      /tmp/ev/eventlog_v2_local-* --results .bench_build/perfbench/results/code_table-seed1403-trace1-*.json

Each compile is classed by its source, compared with every compile before it:
  new             no earlier compile had this source, even with literals masked;
  recompile       an earlier compile had exactly this source: the class fell out
                  of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
                  100 by default) and was compiled again;
  literal-variant an earlier compile differs only in numeric or string
                  literals: a per-call value (a bucket set, an id) was inlined
                  into the generated Java, so each new value compiles a class.

A compile is charged to the first job submitted after it ended (Spark
compiles a plan's classes on the driver just before it submits the plan's
job): to that job's graft call site (as in `jobs_by_callsite.py`) and, with
`--results` of a `--trace 1` run, to the traced CLI call whose span the job
ran in, labelled `<kind>#<n>` as in `tools/span_table.py`. Jobs outside the
traced calls (the untimed half of a run, setup, checks) are `(untraced)`. With
`--results`, a job with no graft frame is charged to its span's name in
brackets (e.g. `[suite.uniqueness]`), and a third table crosses the two: per
CLI call, in run order, its call sites by compile ms.
`--variants N` prints, for the first N literal variants, the first line that
differs from the earlier source.

`--largest N` lists the N largest distinct generated classes: the Java bytes
of the source (without the log's line-number prefixes), how often it was
compiled, the compile ms summed over those compiles, and the call site and
CLI call of its first compile. A whole-stage class of tens of KB is a stage
whose expressions unrolled into Java (an element-wise sum, a struct per
band): its methods likely exceed HotSpot's 8,000-byte JIT limit, so it runs
interpreted, and it is recompiled whenever it falls out of the cache. E.g.

    python3 tools/codegen_by_call.py <driver log> <event log> --results <results.json> \
        --largest 10
"""
import argparse
import collections
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from jobs_by_callsite import NO_FRAME, call_site, event_lines, site_or_span, span_names  # noqa: E402

CODEGEN_LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
SPAN_PROP = "graft.perfbench.span"
HEADER = re.compile(r"^(\d{13}) (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[(.*?)\] (\S+): ?(.*)$")
GENERATED = re.compile(r"Code generated in ([\d.]+) ms")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
STRING = re.compile(r'"(?:[^"\\]|\\.)*"')
NUMBER = re.compile(r"(?<![\w.])-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?[LlDdFf]?\b")
KINDS = ("new", "recompile", "literal-variant")


def compiles(path):
    """(end ms, source lines, compile ms) per compile in a driver log."""
    pending = {}  # thread -> source lines of the compile being logged
    current = None  # the source lines the next continuation line belongs to
    with open(path, errors="replace") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if not m:
                if current is not None:
                    current.append(line)
                continue
            ms, level, thread, logger, msg = m.groups()
            current = None
            if logger != CODEGEN_LOGGER:
                continue
            if level == "DEBUG":
                current = pending[thread] = [msg] if msg else []
            else:
                g = GENERATED.search(msg)
                if g and thread in pending:
                    yield int(ms), pending.pop(thread), float(g.group(1))


def java_bytes(lines):
    """The source's size in bytes, without the log's line-number prefixes."""
    return sum(len(LINE_NO.sub("", l).encode()) + 1 for l in lines)


def normalize(lines):
    """The source without the formatter's line numbers and blank lines."""
    return "\n".join(s for s in (LINE_NO.sub("", l).strip() for l in lines) if s)


def masked(source):
    return NUMBER.sub("#", STRING.sub('"?"', source))


def digest(text):
    return hashlib.sha256(text.encode()).hexdigest()


def first_difference(a, b):
    for x, y in zip(a.splitlines(), b.splitlines()):
        if x != y:
            return x, y
    return None


def jobs(path, depth, names):
    """(submission ms, call site, span id or None) per job, by submission; a
    job with no graft frame is charged to its span's name (`names`)."""
    sql_stack = {}
    out = []
    for line in event_lines(path):
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sql_stack[str(e["executionId"])] = e.get("details", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = sorted(e.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            stack = infos[0].get("Details", "") if infos else ""
            if call_site(stack, 1) == NO_FRAME:
                stack = sql_stack.get(props.get("spark.sql.execution.id"), stack)
            span = props.get(SPAN_PROP)
            out.append((e["Submission Time"], site_or_span(call_site(stack, depth), span, names),
                        int(span) if span not in (None, "") else None))
    return sorted(out, key=lambda j: j[0])


def call_labels(results_path):
    """Span id -> `<kind>#<n>` of the traced CLI call it belongs to."""
    with open(results_path) as fh:
        result = json.load(fh)
    spans = result["spans"]
    traced = [s for s in result["samples"] if s["phase"] == "traced"]
    tops = [i for i, s in enumerate(spans) if s["parent"] == -1 and s["name"].startswith("cli.")]
    if len(tops) != len(traced):
        sys.exit(f"{len(tops)} top-level cli.* spans but {len(traced)} traced samples: "
                 "not a traced run of this benchmark shape")
    top_label = {i: f"{s['kind']}#{n}" for n, (s, i) in enumerate(zip(traced, tops))}
    labels = {}
    for i in range(len(spans)):
        j = i
        while spans[j]["parent"] != -1:
            j = spans[j]["parent"]
        if j in top_label:
            labels[i] = top_label[j]
    return labels


def table(title, rows, order):
    print(f"{'compiles':>8} {'new':>5} {'recomp':>6} {'variant':>7} {'ms':>9}  {title}")
    for key in order:
        c = rows[key]
        print(f"{sum(c[k][0] for k in KINDS):8d} {c['new'][0]:5d} {c['recompile'][0]:6d} "
              f"{c['literal-variant'][0]:7d} {sum(c[k][1] for k in KINDS):9.1f}  {key}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("driver_log", help="stderr of a JVM run under tools/log4j2-codegen.properties")
    ap.add_argument("event_log", help="event log file (plain or .zstd) or eventlog_v2_* directory")
    ap.add_argument("--results", help="perfbench results JSON of the same --trace 1 run")
    ap.add_argument("--depth", type=int, default=2, help="graft frames per call site")
    ap.add_argument("--top", type=int, default=40, help="call-site rows to print")
    ap.add_argument("--variants", type=int, default=5, help="literal variants to show")
    ap.add_argument("--largest", type=int, default=0,
                    help="list the N largest distinct generated classes")
    a = ap.parse_args()

    job_list = jobs(a.event_log, a.depth, span_names(a.results) if a.results else {})
    starts = [j[0] for j in job_list]
    labels = call_labels(a.results) if a.results else {}

    exact, loose = set(), {}
    per_site = collections.defaultdict(lambda: {k: [0, 0.0] for k in KINDS})
    per_call = collections.defaultdict(lambda: {k: [0, 0.0] for k in KINDS})
    per_call_site = collections.defaultdict(lambda: {k: [0, 0.0] for k in KINDS})
    call_order = []
    classes = {}  # source digest -> [java bytes, compiles, ms, first site, first call]
    shown = 0
    n = 0
    for end_ms, lines, ms in compiles(a.driver_log):
        n += 1
        source = normalize(lines)
        key, mkey = digest(source), digest(masked(source))
        if key in exact:
            kind = "recompile"
        elif mkey in loose:
            kind = "literal-variant"
        else:
            kind = "new"
        exact.add(key)
        previous, loose[mkey] = loose.get(mkey), source
        # the first job submitted at or after the compile ended
        lo, hi = 0, len(starts)
        while lo < hi:
            mid = (lo + hi) // 2
            if starts[mid] < end_ms:
                lo = mid + 1
            else:
                hi = mid
        if lo < len(job_list):
            _, site, span = job_list[lo]
            call = labels.get(span, "(untraced)") if span is not None else "(untraced)"
        else:
            site, call = "(no later job)", "(no later job)"
        if kind == "literal-variant" and shown < a.variants:
            diff = first_difference(previous, source)
            if diff:
                print(f"literal variant ({call}, {site}):\n"
                      f"  before: {diff[0]}\n  now:    {diff[1]}")
                shown += 1
        c = classes.setdefault(key, [java_bytes(lines), 0, 0.0, site, call])
        c[1] += 1
        c[2] += ms
        for rows, k in ((per_site, site), (per_call, call), (per_call_site, (call, site))):
            rows[k][kind][0] += 1
            rows[k][kind][1] += ms
        if call not in call_order:
            call_order.append(call)
    if shown:
        print()
    if n == 0:
        sys.exit(f"no compile in {a.driver_log}: was the JVM run under "
                 "tools/log4j2-codegen.properties?")

    def total_ms(c):
        return sum(c[k][1] for k in KINDS)
    sites = sorted(per_site, key=lambda s: -total_ms(per_site[s]))
    table("call site", per_site, sites[:a.top])
    if a.results:
        table("CLI call", per_call, call_order)
        # each call's sites by compile ms, the calls in run order
        pairs = sorted(per_call_site, key=lambda cs: (call_order.index(cs[0]), -total_ms(per_call_site[cs])))
        table("CLI call  call site", {f"{c:<12} {s}": v for (c, s), v in per_call_site.items()},
              [f"{c:<12} {s}" for c, s in pairs])
    totals = {k: [sum(per_site[s][k][0] for s in per_site), sum(per_site[s][k][1] for s in per_site)]
              for k in KINDS}
    print("total: " + ", ".join(f"{k} {c} ({ms:.0f} ms)" for k, (c, ms) in totals.items()))
    if a.largest:
        print()
        print(f"{'java KB':>8} {'compiles':>8} {'ms':>9}  first call site (CLI call)")
        for size, count, ms, site, call in sorted(classes.values(), key=lambda c: -c[0])[:a.largest]:
            print(f"{size / 1000:8.1f} {count:8d} {ms:9.1f}  {site} ({call})")


if __name__ == "__main__":
    main()
