#!/usr/bin/env python3
"""Self-time table of traced runs: per workload, per layer (span name),
the calls, inclusive seconds and self seconds per traced pass, then the
tracing-overhead line (traced median pass minus untraced median pass).

    python3 perfbench/trace_table.py [span files...]

Without arguments it reads the span files of the current build, under
`.bench_work/trace/<build>/`.
"""
import glob
import json
import os
import statistics
import sys

import build


def table(runs):
    """Lines of the table for the span files of one workload."""
    spans = [s for r in runs for s in r["spans"]]
    passes = max(1, len({s["trace"] for s in spans}))
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = [f"{runs[0]['workload']}: {len(runs)} traced run(s), {passes} pass(es)",
           f"  {'layer':<26} {'calls':>7} {'incl_s':>9} {'self_s':>9}"]
    for name, ss in sorted(by_name.items(), key=lambda kv: -sum(s["dur_s"] for s in kv[1])):
        out.append(f"  {name:<26} {len(ss) / passes:7.1f} "
                   f"{sum(s['dur_s'] for s in ss) / passes:9.4f} "
                   f"{sum(s['self_s'] for s in ss) / passes:9.4f}")
    traced = statistics.median(r["pass_s"] for r in runs)
    over = [r["overhead_s"] for r in runs if r.get("overhead_s") is not None]
    if over:
        out.append(f"  tracing overhead: {statistics.median(over):.4f} s "
                   f"(traced median pass {traced:.4f} s)")
    else:
        out.append(f"  tracing overhead: no untraced run recorded "
                   f"(traced median pass {traced:.4f} s)")
    return out


def main(paths):
    if not paths and os.path.exists(build.STAMP):
        paths = sorted(glob.glob(os.path.join(build.trace_dir(), "*.json")))
    runs = {}
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        runs.setdefault(r["workload"], []).append(r)
    for w in sorted(runs):
        print("\n".join(table(runs[w])))
    return 0 if runs else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
