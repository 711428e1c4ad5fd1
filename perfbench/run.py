#!/usr/bin/env python3
"""Deploy-path benchmark of graft's two CLI cores (see perfbench/NOTES.md).

    python3 perfbench/run.py --workload code_table --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke      # every workload once, tiny scale

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one JVM with a local[nproc] Spark session. The last line of stdout is
the result JSON; the raw samples and host shape of the run are written under
.bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["code_table", "pipeline_deltas"]
# exit within the 180 s contract, build excluded
RUN_LIMIT_S = 170

# what spark-submit adds to a JDK 17 driver
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def run_once(workload, seed, seconds, trace, scale):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    classes, digest = build.ensure_built()
    base = os.path.join(build.build_root(), "perfbench")
    tag = f"{workload}-seed{seed}-trace{trace}-{scale}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(base, "work", tag)
    tmp = os.path.join(base, "tmp", tag)
    results = os.path.join(base, "results")
    for d in (work, tmp, results):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
               PERFBENCH_SOURCE_SHA256=digest,
               PERFBENCH_GIT_HEAD=git_head())
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, build.spark_classpath()]),
              "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--scale", scale,
              "--work", work, "--report", os.path.join(results, tag + ".json")])
    log_path = os.path.join(results, tag + ".log")
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"[perfbench] run exceeded {RUN_LIMIT_S}s and was killed", file=sys.stderr)
        lines = out.splitlines()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return (proc.returncode or 1), lines
    return 0, lines


def parse_result(lines):
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    return res


def smoke():
    """Every workload once at tiny scale, plain and traced: every named
    metric must be emitted and every output check must pass."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run_once(workload, 1, 2, trace, "smoke")
            try:
                res = parse_result(lines) if code == 0 else None
            except ValueError as e:
                res, code = None, f"bad result: {e}"
            want = {m["name"] for m in spec[key]}
            problems = []
            if res is None:
                problems.append(f"exit {code}")
            else:
                if not res["correct"] or res["failed"]:
                    problems.append(f"{res['failed']} of {res['attempted']} ops failed")
                got = set(res["metrics"])
                if got != want:
                    problems.append(f"missing {sorted(want - got)}, extra {sorted(got - want)}")
            ok &= not problems
            print(f"{workload:18s} trace={trace}  {'ok' if not problems else '; '.join(problems)}",
                  flush=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        code, lines = run_once(a.workload, a.seed, a.seconds, a.trace, "full")
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1
    if code != 0:
        return code
    try:
        parse_result(lines)
    except ValueError as e:
        print(f"[perfbench] no result line: {e}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
