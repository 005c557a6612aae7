"""swarm_spark benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py for why each exists):
  batch_ingest  IngestPipeline.run, closed loop, 1 client
  object_push   IngestServer + JsonIngest, closed loop, 2 in flight
  table_ops     tablestore reads / count_where / CoW DML, 1 client
  curation      dedup, SemDeDup and PQ operator chains, passes back to back

Each run starts a fresh local[nproc] Spark process (worker.py) in its
own session, generates its inputs from --seed, measures for --seconds,
checks the program's outputs, and prints the workload's figures by
name, then as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. Every workload reports all
six, each over the workload's own operations (workloads.py names
them per workload):
  setup_s           process start to the first timed operation
  op_p50_ms         median latency of the primary operation (a batch,
                    a push as the client sees it, a table read, a pass)
  op_p90_ms         its 90th percentile (nearest rank)
  write_p50_ms      median latency of the table-writing operation
                    (table_ops: copy-on-write DML; the others: as op)
  throughput_per_s  turns, records, table ops or corpus rows per second
  peak_rss_mb       VmHWM of the driver JVM plus the Python driver,
                    read when the timed loop ends (before the checks)
Failed operations are the result's "failed" out of "attempted".
RUNS.md gives the sizes, where they depart from the workload design, and the
recorded runs the bounds in BENCHMARK.json rest on.
--trace 1 starts the Spark event log, measures the first half of the
run untraced, then installs the wrappers (spans, Spark jobs tagged per
span) and measures the second half traced. It reports the per-layer
metrics of the traced half plus the traced-minus-untraced difference
of the primary operation's median as trace.overhead_ms / _pct.

Exits non-zero when a correctness gate fails, when the run fails, or
when the repository's code is missing. Writes only under
<checkout>/.perfbench_work/<workload>-<pid>/ and leaves it there (5 to
100 MB a run; delete .perfbench_work/ when done). On a 4-core VM with
ext4 mounted with discard, deleting the ~100 MB a run has just written
took 10 to 160 s and slowed the runs after it, while writing is cheap.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_ingest", "object_push", "table_ops", "curation")
BUDGET_S = 175.0  # a run must end within 180 s
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _session_pids(sid: int) -> list[int]:
    """Live processes whose session id is `sid`."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _reap_session(sid: int) -> None:
    """Stop every process left in the child's session and wait until
    none is left (the JVM and Python workers it may have orphaned)."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + wait_s
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.time() < deadline:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def run_child(args, work: str, timeout: float) -> tuple[int, list[str]]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        # executor Python workers import swarm_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TZ": "UTC",  # the session time zone; naive predicate literals are UTC
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        "SPARK_LAUNCHER_OPTS": " ".join(
            p for p in (env.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData") if p),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", str(args.scale), "--fault", args.fault,
           "--work", work, "--spawned-at", repr(time.time())]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                         cwd=ROOT, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        print(f"perfbench: {args.workload} timed out after {timeout:.0f} s",
              file=sys.stderr)
        p.returncode = p.returncode or 124
    finally:
        _reap_session(p.pid)
    return p.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses small inputs)")
    ap.add_argument("--fault", default="", choices=("", "drop_row"),
                    help="break one result before the correctness gate")
    args = ap.parse_args()

    missing = [p for p in ("swarm_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    rc, lines = run_child(args, work, BUDGET_S)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    for line in lines[:-1]:
        print(line)
    if result is not None:
        print(lines[-1])
    if rc != 0 or result is None:
        return rc or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
