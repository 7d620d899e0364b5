"""Check that the benchmark is steady on one commit.

    python3 perfbench/steadiness.py [--workloads olap,iterative] [--runs 10]
                                    [--sets 2] [--trace] [--out FILE]

Makes ``--sets`` sets of ``--runs`` untraced runs per workload, run ``i`` of
every set with seed ``i``, each for BENCHMARK.json's ``run_seconds``. For
every end-to-end metric it reports, per set, the spread (distance between
the first and third quartile, as ``statistics.quantiles(n=4)`` gives them,
as a share of the median) and, from the second set on, how much worse the
set's median is than the first set's. Both are compared with the metric's
``bound``: a spread above a third of the bound is flagged ``wide`` (the
benchmark should be made steadier), above the bound ``FAIL``; so is a
median shift above the bound. ``setup_s`` is exempt from the spread rule.

``--trace`` adds one traced run per seed and reports the tracing overhead:
the median of the traced runs' ``trace.wall_s`` minus the median ``wall_s``
of the first set.

The report is printed and, with ``--out``, written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int, trace: bool) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.perf_counter()
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_s"] = took
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(first: list[float], later: list[float], better: str) -> float:
    a, b = statistics.median(first), statistics.median(later)
    if not a:
        return 0.0 if a == b else float("inf")
    return (b - a) / a if better == "lower" else (a - b) / a


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    report: dict = {"run_seconds": seconds, "runs": args.runs, "workloads": {}}
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for k in range(args.sets):
            runs = []
            for seed in range(1, args.runs + 1):
                r = run_once(bench["command"], w, seed, seconds, False)
                ok &= r["correct"]
                runs.append(r)
                print(f"{w} set {k + 1} seed {seed}: {r['run_s']:.1f}s "
                      + " ".join(f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()), flush=True)
            sets.append(runs)
        rows = {}
        for name, m in metrics.items():
            vals = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            row = {
                "bound": m["bound"],
                "medians": [statistics.median(v) for v in vals],
                "spreads": [spread(v) for v in vals],
                "worse_by": [worse_by(vals[0], v, m["better"]) for v in vals[1:]],
            }
            flags = []
            if name != "setup_s":
                if max(row["spreads"]) > m["bound"]:
                    flags.append("FAIL spread")
                elif max(row["spreads"]) > m["bound"] / 3:
                    flags.append("wide")
            if row["worse_by"] and max(row["worse_by"]) > m["bound"]:
                flags.append("FAIL shift")
            ok &= not any(f.startswith("FAIL") for f in flags)
            row["flags"] = flags
            rows[name] = row
            print(f"  {w:10s} {name:16s} bound {m['bound']:.3f} spreads "
                  + " ".join(f"{s:.4f}" for s in row["spreads"])
                  + " worse_by " + " ".join(f"{d:+.4f}" for d in row["worse_by"])
                  + (" " + ",".join(flags) if flags else ""), flush=True)
        entry = {"metrics": rows, "run_s_max": max(r["run_s"] for runs in sets for r in runs)}
        if args.trace:
            traced = [run_once(bench["command"], w, s, seconds, True) for s in range(1, args.runs + 1)]
            entry["trace_overhead_s"] = statistics.median(
                r["metrics"]["trace.wall_s"]["value"] for r in traced
            ) - statistics.median(r["metrics"]["wall_s"]["value"] for r in sets[0])
            print(f"  {w:10s} tracing overhead {entry['trace_overhead_s']:+.3f}s", flush=True)
        report["workloads"][w] = entry
    report["ok"] = ok
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
