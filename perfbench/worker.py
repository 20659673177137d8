"""One benchmark process: set up the session and workload, run the timed
closed loop, check the outputs, and write the result JSON.

Started by ``run.py``, which reads the result file; not meant to be run
by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import procstat
import spans as tracing
from workloads import WORKLOADS, Ctx

#: span names whose total wall per pass is reported under the same name
SPAN_METRICS = (
    "plans.create_partition_plan", "plans.probe", "sources.register_views",
    "sources.read_partitioned", "io.export", "queries.build", "queries.exec",
    "store.build", "store.mine", "store.append", "store.compact",
    "ann.build", "ann.append", "ann.search", "ann.compact",
)
SELF_LAYERS = ("plans", "sources", "io", "queries")
#: registry entries whose median op wall is reported as entry.<prefix>_s
ENTRY_PREFIXES = ("q12", "q30", "x31", "x40")
#: reported by the workload that exercises them, 0 on the other
WORKLOAD_METRICS = ("store.write_mb", "store.write_amp", "store.space_amp", "store.files")
SPARK_METRICS = (
    "jobs", "stages", "tasks", "python_stages", "task_cpu_s", "task_run_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
    "result_mb", "jvm_gc_s",
)


def session(args, slots: int):
    from conecta_spark.session import get_session

    conf = {
        "spark.sql.shuffle.partitions": str(slots),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # JVM unified logging would write to stdout
        "spark.driver.extraJavaOptions": "-Xlog:disable",
        "spark.local.dir": f"{args.scratch}/local",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": f"{args.scratch}/warehouse",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{args.scratch}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    spark = get_session(app_name=f"perfbench-{args.workload}", master=f"local[{slots}]",
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def instrument(tracer) -> None:
    """Spans around the read_sql layers, installed from outside the engine."""
    import conecta_spark.io as io
    from conecta_spark.sources.parquet import ParquetDirSource

    tracer.wrap(io, "_plan", "plans.create_partition_plan")
    tracer.wrap(io, "export", "io.export")
    tracer.wrap(ParquetDirSource, "min_max", "plans.probe")
    tracer.wrap(ParquetDirSource, "register_views", "sources.register_views")
    tracer.wrap(ParquetDirSource, "read_partitioned", "sources.read_partitioned")


def out_size_mb(out) -> tuple[float, int]:
    """(MB, record batches) of an exported result."""
    if hasattr(out, "to_batches"):
        return out.nbytes / 2**20, len(out.to_batches())
    if hasattr(out, "memory_usage"):
        return float(out.memory_usage(deep=True).sum()) / 2**20, 0
    return 0.0, 0


def persisted_mb(spark) -> float:
    """MB of RDDs and cached relations Spark holds in memory or on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def warm_up(wl, pending: list) -> list:
    """Set-up's warm-up pass: the same op list as a timed pass, with its
    own draws; its outputs are checked with the timed ones.  Returns each
    op's wall time."""
    walls = []
    for op in wl.pass_ops(-1):
        t0 = time.perf_counter()
        out = op.run()
        walls.append([op.kind, round(time.perf_counter() - t0, 4)])
        if op.check is not None:
            pending.append((None, op.kind, op.check(out)))
    return walls


def timed_loop(args, spark, wl, tracer, pid, jvm, pending: list):
    """Closed loop, one client thread: whole passes until ``--seconds`` of
    op wall time and the workload's ``MIN_PASSES`` have been measured.  Between ops, untimed, each output is
    reduced for its deferred check."""
    ops, failures, extra = [], {}, {"export": [], "persisted": []}
    procstat.reset_peak_rss([pid, jvm])
    elapsed, k = 0.0, 0
    while elapsed < args.seconds or k < wl.MIN_PASSES:
        for op in wl.pass_ops(k):
            n = len(ops)
            spark.sparkContext.setJobGroup(f"{tracing.GROUP_PREFIX}{n}", f"{wl.name}:{op.kind}")
            tracer.op = n
            ok, out = True, None
            cpu0, w0 = procstat.cpu_seconds(pid), time.time()
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = op.run()
            except Exception:
                ok = False
                failures.setdefault(op.kind, traceback.format_exc(limit=3))
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds(pid) - cpu0
            tracer.op = None
            if ok and op.check is not None:
                pending.append((n, op.kind, op.check(out)))
            if args.trace:
                extra["export"].append((op.kind, *out_size_mb(out)))
                extra["persisted"].append((k, persisted_mb(spark)))
            ops.append({"kind": op.kind, "pass": k, "wall": wall, "cpu": cpu,
                        "t0": w0, "t1": w0 + wall, "ok": ok})
            elapsed += wall
            del out
        k += 1
    extra["peak_rss_mb"] = procstat.peak_rss_mb([pid])
    extra["jvm_rss_mb"] = procstat.peak_rss_mb([jvm])
    return ops, failures, extra


def verify(spark, wl, ops, failures, pending) -> None:
    """The deferred checks and the workload's own, after the timed region:
    a failed check fails its op, or every op of its kind."""
    spark.sparkContext.setJobGroup("perfbench-checks", f"{wl.name}:checks")
    whole_kind = wl.finish()
    for n, kind, check in pending:
        if check is None:
            continue
        try:
            check()
        except AssertionError as e:
            failures.setdefault(kind, str(e))
            if n is None:  # a warm-up output
                whole_kind[kind] = str(e)
            else:
                ops[n]["ok"] = False
    failures.update(whole_kind)
    for o in ops:
        if o["kind"] in whole_kind:
            o["ok"] = False


def per_layer(args, tracer, ops, extra, slots: int) -> dict:
    passes = max(o["pass"] for o in ops) + 1
    timed = set(range(len(ops)))
    spans = [s for s in tracer.spans if s["op"] in timed and s["name"] != "op"]
    stats = tracing.SparkStats(f"{args.scratch}/eventlog")

    def total(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name) / passes

    m = {f"{name}_s": total(name) for name in SPAN_METRICS}
    own = tracing.self_times([s for s in tracer.spans if s["op"] in timed])
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = sum(
            v for k, v in own.items() if k.startswith(layer + ".")
        ) / passes
    all_jobs = stats.intervals(timed)
    probes = [s for s in spans if s["name"] == "plans.probe"]
    m["plans.probe_jobs"] = sum(
        1 for a, _ in all_jobs if any(p["t0"] <= a <= p["t1"] for p in probes)
    ) / passes
    exports = [s for s in spans if s["name"] == "io.export"]
    m["io.driver_s"] = sum(
        (s["t1"] - s["t0"]) - tracing.covered(stats.intervals({s["op"]}), s["t0"], s["t1"])
        for s in exports
    ) / passes
    m["io.export_mb"] = sum(mb for _, mb, _ in extra["export"]) / passes
    p4 = [b for kind, _, b in extra["export"] if kind == "full_p4"]
    m["io.export_batches"] = statistics.median(p4) if p4 else 0
    for prefix in ENTRY_PREFIXES:
        walls = [o["wall"] for o in ops if o["kind"].startswith(prefix + "_")]
        m[f"entry.{prefix}_s"] = statistics.median(walls) if walls else 0.0
    spark_tot = tracing.zero_stats()
    for i in timed:
        for key, v in stats.per_op.get(i, {}).items():
            spark_tot[key] += v
    for key in SPARK_METRICS:
        m[f"spark.{key}"] = spark_tot[key] / passes
    slot_s = spark_tot["stage_slot_s"] * slots
    m["spark.slot_idle_ratio"] = 1 - spark_tot["task_run_s"] / slot_s if slot_s else 0.0
    m["driver.self_s"] = sum(
        o["wall"] - tracing.covered(stats.intervals({i}), o["t0"], o["t1"])
        for i, o in enumerate(ops)
    ) / passes
    m["trace.work_s"] = statistics.median(pass_walls(ops))
    m["trace.spans"] = len(spans) / passes
    by_pass: dict[int, float] = {}
    for k, mb in extra["persisted"]:
        by_pass[k] = max(by_pass.get(k, 0.0), mb)
    m["cache.persisted_mb"] = statistics.median(by_pass.values())
    m["jvm.peak_rss_mb"] = extra["jvm_rss_mb"]
    m.update(dict.fromkeys(WORKLOAD_METRICS, 0.0))
    return m


def pass_walls(ops, key: str = "wall") -> list[float]:
    by_pass: dict[int, float] = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o[key]
    return list(by_pass.values())


def log(args, what: str) -> None:
    print(f"perfbench: {time.time() - args.t0:7.2f} s  {what}", file=sys.stderr, flush=True)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scratch", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True)
    args = p.parse_args()

    slots = len(os.sched_getaffinity(0))
    tracer = tracing.Tracer(bool(args.trace))
    if args.trace:
        instrument(tracer)
    spark = session(args, slots)
    log(args, "session")
    data = {sf: os.path.join(args.data, sf) for sf in ("sf0.1", "sf0.01")}
    ctx = Ctx(spark=spark, data=data, seed=args.seed, tracer=tracer, scratch=args.scratch)
    wl = WORKLOADS[args.workload](ctx)
    wl.setup()
    log(args, "workload")
    pending: list = []
    warm_walls = warm_up(wl, pending)
    setup_s = time.time() - args.t0
    log(args, "set-up")
    pid = os.getpid()
    ops, failures, extra = timed_loop(args, spark, wl, tracer, pid, procstat.jvm_pid(pid),
                                      pending)
    log(args, "timed loop")
    verify(spark, wl, ops, failures, pending)
    log(args, "checks")
    passes = max(o["pass"] for o in ops) + 1
    result = {
        "setup_s": setup_s, "inputs": wl.inputs(),
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "failures": failures, "passes": passes,
        "work_s": statistics.median(pass_walls(ops)),
        "cpu_s": statistics.median(pass_walls(ops, "cpu")),
        "op_p50_s": statistics.median(o["wall"] for o in ops),
        "peak_rss_mb": extra["peak_rss_mb"],
        "op_walls": [[o["pass"], o["kind"], round(o["wall"], 4)] for o in ops],
        "warm_up_walls": warm_walls,
    }
    if args.trace:
        wl_metrics = wl.layer_metrics(passes)
    spark.stop()  # flushes the event log
    log(args, "stopped")
    if args.trace:
        result["per_layer"] = per_layer(args, tracer, ops, extra, slots)
        result["per_layer"].update(wl_metrics)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
