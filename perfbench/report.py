#!/usr/bin/env python3
"""Run the benchmark over several seeds and print every metric by name,
unit and workload.

    python3 perfbench/report.py --seeds 1 2 3 4 5 [--traced]

The workloads and the seconds a run measures come from ``BENCHMARK.json``.
For each workload it makes one untraced run per seed and prints each
end-to-end metric's median, quartiles and spread (quartile distance over
median), and ``failed_ratio`` (failed ops over attempted ops, summed over
the runs).  With ``--traced`` it then makes one traced run per workload on
the first seed and prints the per-layer metrics and the tracing overhead
(traced ``work_s`` minus the untraced median).  Every run made is reported;
none is dropped or repeated.  Each run's result and context go to stderr
as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """The run's result plus the context it printed to stderr."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    done = subprocess.run(cmd, capture_output=True, text=True, check=True)
    result = json.loads(done.stdout.strip().splitlines()[-1])
    for line in done.stderr.splitlines():
        if line.startswith('{"context"'):
            result.update(json.loads(line))
    return result


def main() -> int:
    cfg = bench()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    p.add_argument("--traced", action="store_true")
    args = p.parse_args()
    seconds = cfg["run_seconds"]

    print(f"{'workload':13s} {'metric':30s} {'unit':6s} {'median':>10s} "
          f"{'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}  n")
    for wl in (w["name"] for w in cfg["workloads"]):
        runs = []
        for seed in args.seeds:
            r = one_run(wl, seed, seconds, 0)
            runs.append(r)
            print(json.dumps({"workload": wl, "seed": seed, "trace": 0, **r}),
                  file=sys.stderr, flush=True)
        for m in cfg["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            print(f"{wl:13s} {m['name']:30s} {m['unit']:6s} {med:10.4f} {q1:10.4f} "
                  f"{q3:10.4f} {(q3 - q1) / med:7.3f} {m['bound']:6.2f}  {len(vals)}")
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        print(f"{wl:13s} {'failed_ratio':30s} {'ratio':6s} {failed / attempted:10.4f}"
              f"{'':39s}{attempted} ops")
        if args.traced:
            t = one_run(wl, args.seeds[0], seconds, 1)
            print(json.dumps({"workload": wl, "seed": args.seeds[0], "trace": 1, **t}),
                  file=sys.stderr, flush=True)
            untraced = statistics.median(r["metrics"]["work_s"]["value"] for r in runs)
            for name, v in t["metrics"].items():
                print(f"{wl:13s} {name:30s} {v['unit']:6s} {v['value']:10.4f}")
            print(f"{wl:13s} {'trace.overhead_s':30s} {'s':6s} "
                  f"{t['metrics']['trace.work_s']['value'] - untraced:10.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
