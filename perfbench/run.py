#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (see build.py), runs one workload in one
JVM at local[nproc], runs the DuckDB oracle compare where the workload
has one, and prints the result object as the last stdout line. Exits
non-zero without a result when the build, the run or the result fails.
A traced run also prints the self-time table (trace_table.py) on stderr;
its overhead line compares with the untraced runs of the same build made
before it in the checkout. Everything it writes stays under `.bench_build/`
and `.bench_work/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("lake_catchup", "corpus_dedup")
JVM_TIMEOUT_S = 170

LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def run_jvm(cp, args, work, trace_dir):
    os.makedirs(work)
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as fh:
        fh.write(LOG4J)
    cmd = build.java_command(cp, work) + [
        f"-Dlog4j.configurationFile={log4j}", "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--trace-dir", trace_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"run exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise RuntimeError(f"JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if not lines:
        raise RuntimeError("JVM printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_work", args.workload)
    trace_dir = build.trace_dir()
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args, work, trace_dir)
        if args.workload == "corpus_dedup":
            import oracle
            fails = oracle.check(os.path.join(work, "inputs"),
                                 os.path.join(work, "oracle"))
            for f in fails:
                print(f"[bench] oracle: {f}", file=sys.stderr)
            res["failed"] += len(fails)
            res["correct"] = res["correct"] and not fails
            if "error_rate" in res["metrics"]:
                res["metrics"]["error_rate"]["value"] = res["failed"] / res["attempted"]
    except Exception as e:  # no result line on any failure
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        spans = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        subprocess.run([sys.executable, os.path.join(build.HERE, "trace_table.py"), spans],
                       stdout=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
