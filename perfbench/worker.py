"""One benchmark run of one workload in a fresh Spark session.

Started by run.py in its own session (process group), with PYTHONPATH
pointing at the checkout so executor Python workers can import
swarm_spark from any working directory. Prints the workload's named
figures, then one JSON line: the end-to-end metrics (untraced run) or
the per-layer metrics (traced run). Exits 1 when a correctness gate
fails.

The traced run has the Spark event log on. It measures its first half
untraced, then installs the wrappers and measures its second half
traced; trace.overhead_* is the difference of the two halves' median
primary-operation latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
from workloads import WORKLOADS, Ctx, pct  # noqa: E402


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process (VmHWM), MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_mb() -> int:
    """Driver heap cap: an eighth of physical RAM, between 1 and 4 GB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 8))


def start_session(work: str, trace: bool):
    """local[nproc] with nproc shuffle partitions; every scratch path
    inside the work dir. The event log is on for the traced run only."""
    from swarm_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    heap = heap_mb()
    conf = {
        # A fixed, pre-touched heap. With a growing heap, peak RSS was
        # bimodal (1.2 or 1.5-1.7 GB on object_push, 33% quartile
        # spread) as the collector grew the heap or not; pre-touched,
        # RSS moves with off-heap, metaspace, thread and Python-driver
        # memory and with heap needs beyond the cap. spark.heap_live_mb
        # (traced run) reports the heap the program holds on to.
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap}m -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData",  # no hsperfdata file outside the work dir
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                     extra_conf=conf), cpus


def heap_live_mb(spark) -> float:
    """JVM heap in use right after a full collection (the live set), MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mf = jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def stop_session(spark, graceful: bool) -> None:
    """End the JVM and wait for it. A graceful stop flushes the event
    log (traced run); otherwise the JVM is killed, since every file it
    leaves is under the work dir, which run.py removes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    if graceful:
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    else:
        spark.sparkContext._accumulatorServer.shutdown()  # no reads from a dead JVM
        proc.kill()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--fault", default="")
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    a = ap.parse_args()

    trace = bool(a.trace)
    phases = [("spawn", a.spawned_at)]
    spark, cpus = start_session(a.work, trace)
    phases.append(("session", time.time()))
    ctx = Ctx(spark, a.work, a.seed, a.scale, fault=a.fault)
    w = WORKLOADS[a.workload](ctx)
    try:
        w.setup()
        phases.append(("setup", time.time()))
        if trace:  # each half makes half the minimum
            w.loop(a.seconds / 2, max(1, w.MIN_OPS // 2))
        else:
            w.loop(a.seconds, w.MIN_OPS)
        if trace:
            ctx.tracer = tracing.Tracer(spark)
            ctx.tracer.install()
            ctx.phase = 1
            t0, t0_epoch = time.perf_counter(), time.time()
            w.loop(a.seconds / 2, max(1, w.MIN_OPS // 2))
            t1, t1_epoch = time.perf_counter(), time.time()
            live_mb = heap_live_mb(spark)
        phases.append(("loop", time.time()))
        # peak so far: set-up and the timed loop, not the checks below
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        errors = w.check()
        phases.append(("check", time.time()))
        extras = w.traced_extras() if trace else {}
        info = w.info()
    finally:
        if hasattr(w, "close"):
            w.close()
        stop_session(spark, graceful=trace)
    phases.append(("stop", time.time()))

    attempted = len(ctx.ops)
    failed = sum(not o["ok"] for o in ctx.ops)
    primary = ctx.latencies(w.PRIMARY, phase=0)
    writes = ctx.latencies(w.WRITES, phase=0)
    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} nproc={cpus} heap_mb={heap_mb()} "
          f"ops={attempted} failed={failed}")
    print("phases " + " ".join(f"{n}={t - p:.1f}s" for (_, p), (n, t)
                                in zip(phases, phases[1:])))
    print("latencies_ms " + " ".join(f"{o['kind']}={o['ms']:.0f}" for o in ctx.ops
                                     if o["ok"] and o["phase"] == 0))
    for name, value, unit, n in info:
        print(f"metric {name} {value:.6g} {unit} (n={n})")
    print(f"metric failed_ratio {failed / max(attempted, 1):.6g} ratio (n={attempted})")
    for e in errors:
        print(f"CHECK FAILED: {e}")

    if not trace:
        metrics = {
            "setup_s": (ctx.first_op_at - a.spawned_at, "s"),
            "op_p50_ms": (statistics.median(primary), "ms"),
            "op_p90_ms": (pct(primary, 90), "ms"),
            "write_p50_ms": (statistics.median(writes), "ms"),
            "throughput_per_s": (w.work_done / w.loop_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
        print(f"samples op={len(primary)} write={len(writes)} "
              f"throughput={w.work_done} {w.THROUGHPUT} in {w.loop_s:.2f} s")
    else:
        traced_ops = sum(o["phase"] == 1 for o in ctx.ops)
        jobs, stage_tasks = tracing.read_event_log(os.path.join(a.work, "eventlog"))
        values = tracing.span_metrics(ctx.tracer.spans, t0, t1, traced_ops)
        values.update(tracing.spark_metrics(jobs, stage_tasks, t0_epoch * 1000,
                                            t1_epoch * 1000, traced_ops))
        values["filestats.collect.failed_jobs"] = tracing.failed_collect_jobs(
            jobs, ctx.tracer.spans, t0, t1, traced_ops)
        values.update(extras)
        values["spark.heap_live_mb"] = live_mb
        base = statistics.median(primary)
        traced = statistics.median(ctx.latencies(w.PRIMARY, phase=1))
        values["trace.op_p50_ms"] = traced
        values["trace.overhead_ms"] = traced - base
        values["trace.overhead_pct"] = 100.0 * (traced - base) / base
        for layer, target in tracing.LAYER_MAP.items():
            print(f"layer {layer} -> {target}")
        for name, row in sorted(tracing.per_span_table(jobs, stage_tasks,
                                                       ctx.tracer.spans).items()):
            print(f"span {name} jobs={row['jobs']} tasks={row['tasks']} "
                  f"task_ms={row['task_ms']}")
        metrics = {name: (float(values.get(name, 0.0)), unit)
                   for name, unit, _ in tracing.PER_LAYER}
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
