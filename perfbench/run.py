#!/usr/bin/env python3
"""Layered benchmark of conecta_spark.

Run from the repository root:

    python3 perfbench/run.py --workload load_arrow --seed 1 --seconds 5 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

* ``load_arrow`` -- ``read_sql`` into pyarrow/pandas in this process;
* ``corpus_mix`` -- delegated-SQL and corpus-operator registry entries to
  the noop sink, plus one ingest round of the signature and ANN stores.

A run is one closed loop with one client thread on ``local[nproc]``
(shuffle partitions = nproc), in a fresh worker process.  The catalogs are
generated once per checkout into ``.bench_build/perfbench/`` (``datagen.py``);
everything a run writes (Spark local dirs, event log, temp files) lives in
a per-run directory there that is removed when the run ends.

The last line of stdout is the result, ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer ones (spans plus the Spark event log) with ``--trace 1``.
Context (1-minute load average at start and end, inputs, every op's wall
time, failures) goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_VERSION = "data-v1"
WORKER_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "work_s": "s", "op_p50_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def build_data(base: str) -> str:
    """Generate the fixed catalogs once per checkout (atomic rename)."""
    import datagen

    out = os.path.join(base, DATA_VERSION)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    for sf in ("sf0.1", "sf0.01"):
        datagen.generate(os.path.join(tmp, sf), float(sf[2:]))
    os.rename(tmp, out)
    return out


def read_through(path: str) -> None:
    """Read every data file once, so no run pays first-touch disk reads."""
    for d, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(d, name), "rb") as f:
                while f.read(1 << 20):
                    pass


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def run_worker(cmd: list[str], env: dict) -> None:
    """Run the worker in its own process group; afterwards kill whatever of
    the group is left (JVM, PySpark daemon) and wait until it is gone."""
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr.fileno(), start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.time() + 30
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still cleans up its worker and scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("conecta_spark/__init__.py", "tests/oracle_utils.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2

    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    data = build_data(base)
    read_through(data)
    scratch = os.path.join(base, f"run-{os.getpid()}")
    out = os.path.join(scratch, "result.json")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(scratch, d))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",  # same set/dict-of-str orders in every run
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        # every JVM, the launcher's too: no hsperfdata files, temp files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--data", data, "--out", out,
    ]
    load = [os.getloadavg()[0]]
    try:
        run_worker(cmd + ["--t0", repr(time.time())], env)
        with open(out) as f:
            result = json.load(f)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    load.append(os.getloadavg()[0])

    context = {k: result[k] for k in ("inputs", "passes", "failures", "warm_up_walls", "op_walls")}
    context.update(workload=args.workload, seed=args.seed, load_1m=load)
    print(json.dumps({"context": context}), file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
