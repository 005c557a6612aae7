"""Traced-run plumbing: spans and counters from the benchmark's own
wrappers around public calls, Spark jobs tagged per span, and the
per-layer metrics computed from both.

Wrappers are installed only in the traced run (`Tracer.install`, for
its second half), so the untraced run executes the program exactly as
a user would. A span
records name, start, end, parent span and attributes; every Spark job
started inside a span carries the span's id as its job group, so the
Spark event log (on for the traced run only) attributes jobs, tasks,
shuffle, spill and GC to spans.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "pb-"

# Which end-to-end metric (and on which workload) each layer's metrics
# should move. Written down before measuring; printed by the traced run.
# Bounded names first, the workload's own name in parentheses.
LAYER_MAP = {
    "pipeline": "throughput_per_s (turns_per_s), op_p50_ms (batch_p50_s) on "
                "batch_ingest; pipeline.write.files also op_p50_ms (read_p50_ms) "
                "on table_ops",
    "filestats": "op_p50_ms (batch_p50_s) on batch_ingest; op_p50_ms, op_p90_ms "
                 "(read_p50_ms, read_p90_ms) on table_ops",
    "tablestore": "op_p50_ms (batch_p50_s) on batch_ingest; op_p50_ms (push_p50_ms) "
                  "on object_push; op_p50_ms (read_p50_ms), write_p50_ms "
                  "(dml_p50_ms) on table_ops",
    "metastore": "op_p90_ms (push_p90_ms) on object_push; write_p50_ms "
                 "(dml_p50_ms) on table_ops",
    "manifest": "op_p50_ms (push_p50_ms) on object_push",
    "pipeline_json": "op_p50_ms (push_p50_ms), throughput_per_s (records_per_s) "
                     "on object_push",
    "sources": "op_p50_ms (push_p50_ms), throughput_per_s (records_per_s) "
               "on object_push",
    "server": "op_p50_ms, op_p90_ms (push_p50_ms, push_p90_ms) on object_push",
    "auth": "op_p50_ms, op_p90_ms (push_p50_ms, push_p90_ms) on object_push",
    "operators": "op_p50_ms (curation_s) on curation",
    "spark": "throughput_per_s (turns_per_s) on batch_ingest, op_p50_ms "
             "(curation_s) on curation, peak_rss_mb on all",
}

SELF_LAYERS = ("client", "server", "auth", "manifest", "pipeline",
               "pipeline_json", "sources", "tablestore", "metastore",
               "filestats", "operators")

OPERATORS = ("dedup_exact", "minhash_lsh_pairs", "semantic_dedup_keep",
             "pq_train", "pq_encode", "pq_topk")


def _per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric the traced run prints: (name, unit, better).
    Counts and times are per workload operation (a batch, a push, a
    table op or a curation pass) unless the name says otherwise."""
    m = [
        ("pipeline.run.s", "s", "lower"),
        ("pipeline.routed.plan_ms", "ms", "lower"),
        ("pipeline.routed.exec_s", "s", "lower"),
        ("pipeline.write.files", "count", "lower"),
        ("pipeline.write.mb", "MB", "lower"),
        ("pipeline.write.rows_per_file", "rows", "higher"),
        ("filestats.collect.calls", "count", "lower"),
        ("filestats.collect.ms", "ms", "lower"),
        ("filestats.collect.files", "count", "lower"),
        ("filestats.collect.failed_jobs", "count", "lower"),
        ("filestats.dirs_without_sidecar", "count", "lower"),
        ("filestats.prune.ms", "ms", "lower"),
        ("filestats.prune.kept_ratio", "ratio", "lower"),
        ("tablestore.adopt_dir.ms", "ms", "lower"),
        ("tablestore.append.calls", "count", "lower"),
        ("tablestore.append.ms", "ms", "lower"),
        ("tablestore.rollback.calls", "count", "lower"),
        ("tablestore.read.plan_ms", "ms", "lower"),
        ("tablestore.count_where.meta_ratio", "ratio", "higher"),
        ("tablestore.dml.ms", "ms", "lower"),
        ("tablestore.dml.dirs_rewritten", "count", "lower"),
        ("tablestore.dml.dirs_untouched", "count", "higher"),
        ("metastore.try_commit.calls", "count", "lower"),
        ("metastore.try_commit.contended", "count", "lower"),
        ("metastore.try_commit.lost", "count", "lower"),
        ("metastore.try_commit.ms", "ms", "lower"),
        ("manifest.get_or_create.ms", "ms", "lower"),
        ("manifest.update.calls", "count", "lower"),
        ("manifest.update.ms", "ms", "lower"),
        ("pipeline_json.run.s", "s", "lower"),
        ("pipeline_json.infer.calls", "count", "lower"),
        ("pipeline_json.infer.ms", "ms", "lower"),
        ("pipeline_json.coverage_rounds", "count", "lower"),
        ("sources.objects.decode_ms", "ms", "lower"),
        ("server.handler_ms", "ms", "lower"),
        ("server.overhead_ms", "ms", "lower"),
        ("auth.authorize.ms", "ms", "lower"),
    ]
    for fn in OPERATORS:
        m += [(f"operators.{fn}.s", "s", "lower"),
              (f"operators.{fn}.plan_ms", "ms", "lower")]
    m += [
        ("operators.python_eval.batch", "count", "lower"),
        ("operators.python_eval.arrow", "count", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.gc_share", "ratio", "lower"),
        ("spark.heap_live_mb", "MB", "lower"),  # after the traced half, not per op
    ]
    m += [(f"self_ms.{layer}", "ms", "lower") for layer in SELF_LAYERS]
    m += [("trace.op_p50_ms", "ms", "lower"),
          ("trace.overhead_ms", "ms", "lower"),
          ("trace.overhead_pct", "%", "lower")]
    return m


PER_LAYER = _per_layer()


def layer_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return "client" if head == "op" else head


def plan_ms(df) -> float:
    """Time to build the physical plan of `df` (cached on the
    QueryExecution, so the later action does not plan again)."""
    t = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return (time.perf_counter() - t) * 1000.0


def python_eval_nodes(df) -> tuple[int, int]:
    """(BatchEvalPython, ArrowEvalPython) node counts in df's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("BatchEvalPython"), plan.count("ArrowEvalPython")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        stack.append(rec)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1]['id']}",
                                    stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if post is not None:
                    post(rec, a, out)
                return out

        setattr(owner, attr, traced)

    # -- the wrappers --------------------------------------------------
    def install(self) -> None:
        """Wrap the public entry points of every layer. Each call site
        in the program looks the name up on its module or class at call
        time, so patching the attribute reaches it."""
        from swarm_spark import filestats, manifest, metastore, pipeline, \
            pipeline_json, server, tablestore
        from swarm_spark.operators import dedup, similarity
        from swarm_spark.sources import objects

        def table_name(rec, a, out):
            rec["table"] = a[0].name

        def commit_outcome(rec, a, out):
            rec["outcome"] = out

        def collected(rec, a, out):
            rec["files"] = len(out.get("files", {})) if out else 0

        def pruned(rec, a, out):
            rec["total"], rec["kept"] = out[1], out[2]

        def counted(rec, a, out):
            if isinstance(out, dict):
                rec["meta_rows"], rec["count"] = out["meta_rows"], out["count"]

        def dml(rec, a, out):
            rec["table"] = a[0].name
            rec["dirs_rewritten"] = out.get("dirs_rewritten", 0)
            rec["dirs_untouched"] = out.get("dirs_untouched", 0)

        def planned(rec, a, out):
            if hasattr(out, "_jdf"):
                rec["plan_ms"] = plan_ms(out)

        self.wrap(pipeline.IngestPipeline, "run", "pipeline.run")
        self.wrap(pipeline_json.JsonIngest, "run", "pipeline_json.run")
        self.wrap(pipeline_json, "infer_json_schema", "pipeline_json.infer")
        self.wrap(objects, "read_multidoc_json", "sources.objects.read")
        self.wrap(server, "authorize", "auth.authorize")
        self.wrap(manifest.ManifestStore, "get_or_create", "manifest.get_or_create")
        self.wrap(manifest.ManifestStore, "update", "manifest.update")
        T = tablestore.IcepackTable
        self.wrap(T, "append", "tablestore.append", table_name)
        self.wrap(T, "adopt_dir", "tablestore.adopt_dir", table_name)
        self.wrap(T, "rollback", "tablestore.rollback", table_name)
        self.wrap(T, "read", "tablestore.read")
        self.wrap(T, "count_where", "tablestore.count_where", counted)
        for m in ("merge_upsert", "delete_where", "update_where"):
            self.wrap(T, m, "tablestore.dml", dml)
        self.wrap(T, "compact", "tablestore.compact")
        self.wrap(metastore.PosixMetaStore, "try_commit",
                  "metastore.try_commit", commit_outcome)
        self.wrap(filestats, "collect_dir_stats", "filestats.collect", collected)
        self.wrap(filestats, "prune_files", "filestats.prune", pruned)
        for fn in OPERATORS:
            mod = dedup if hasattr(dedup, fn) else similarity
            self.wrap(mod, fn, f"operators.{fn}", planned)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(spans: list[dict], t0: float, t1: float, n_ops: int) -> dict:
    """Per-op layer metrics from the spans that started inside the timed
    window [t0, t1] (perf_counter seconds)."""
    win = [s for s in spans if t0 <= s["start"] <= t1]
    ops = max(n_ops, 1)
    by: dict[str, list[dict]] = defaultdict(list)
    for s in win:
        by[s["name"]].append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by[name])

    def calls(name):
        return len(by[name])

    m: dict[str, float] = {}
    m["pipeline.run.s"] = dur("pipeline.run") / ops
    m["pipeline_json.run.s"] = dur("pipeline_json.run") / ops
    m["pipeline_json.infer.calls"] = calls("pipeline_json.infer") / ops
    m["pipeline_json.infer.ms"] = dur("pipeline_json.infer") * 1000 / ops
    m["filestats.collect.calls"] = calls("filestats.collect") / ops
    m["filestats.collect.ms"] = dur("filestats.collect") * 1000 / ops
    m["filestats.collect.files"] = sum(s.get("files", 0)
                                       for s in by["filestats.collect"]) / ops
    m["filestats.prune.ms"] = dur("filestats.prune") * 1000 / ops
    tot = sum(s.get("total", 0) for s in by["filestats.prune"])
    kept = sum(s.get("kept", 0) for s in by["filestats.prune"])
    m["filestats.prune.kept_ratio"] = kept / tot if tot else 0.0
    m["tablestore.adopt_dir.ms"] = dur("tablestore.adopt_dir") * 1000 / ops
    m["tablestore.append.calls"] = calls("tablestore.append") / ops
    m["tablestore.append.ms"] = dur("tablestore.append") * 1000 / ops
    m["tablestore.rollback.calls"] = calls("tablestore.rollback") / ops
    m["tablestore.read.plan_ms"] = dur("tablestore.read") * 1000 / ops
    cw = [s for s in by["tablestore.count_where"] if "count" in s]
    cw_rows = sum(s["count"] for s in cw)
    m["tablestore.count_where.meta_ratio"] = (
        sum(s["meta_rows"] for s in cw) / cw_rows if cw_rows else 0.0)
    m["tablestore.dml.ms"] = dur("tablestore.dml") * 1000 / ops
    m["tablestore.dml.dirs_rewritten"] = sum(
        s.get("dirs_rewritten", 0) for s in by["tablestore.dml"]) / ops
    m["tablestore.dml.dirs_untouched"] = sum(
        s.get("dirs_untouched", 0) for s in by["tablestore.dml"]) / ops
    tc = by["metastore.try_commit"]
    m["metastore.try_commit.calls"] = len(tc) / ops
    m["metastore.try_commit.contended"] = sum(
        s.get("outcome") == "contended" for s in tc) / ops
    m["metastore.try_commit.lost"] = sum(s.get("outcome") == "lost" for s in tc) / ops
    m["metastore.try_commit.ms"] = dur("metastore.try_commit") * 1000 / ops
    m["manifest.get_or_create.ms"] = dur("manifest.get_or_create") * 1000 / ops
    m["manifest.update.calls"] = calls("manifest.update") / ops
    m["manifest.update.ms"] = dur("manifest.update") * 1000 / ops
    m["auth.authorize.ms"] = dur("auth.authorize") * 1000 / ops
    m["server.handler_ms"] = dur("server.handler") * 1000 / ops

    # appends per sink per push beyond the first = coverage re-writes
    ids = {s["id"]: s for s in win}
    extra = 0
    for run in by["pipeline_json.run"]:
        per_table: dict[str, int] = defaultdict(int)
        for s in by["tablestore.append"]:
            p = s["parent"]
            while p is not None and p != run["id"]:
                p = ids[p]["parent"] if p in ids else None
            if p == run["id"] and not s["table"].startswith("_"):
                per_table[s["table"]] += 1
        extra += sum(n - 1 for n in per_table.values())
    m["pipeline_json.coverage_rounds"] = extra / ops

    for fn in OPERATORS:
        name = f"operators.{fn}"
        m[f"{name}.s"] = dur(name) / ops
        m[f"{name}.plan_ms"] = sum(s.get("plan_ms", 0.0) for s in by[name]) / ops

    # self time per layer: span time not covered by its child spans; a
    # push's handler span runs on a server thread and is the child of
    # the client span with the same message id
    children: dict[int, list] = defaultdict(list)
    sent = {s["message_id"]: s["id"] for s in win
            if s["name"].startswith("op.") and "message_id" in s}
    for s in win:
        parent = s["parent"]
        if parent is None and s["name"] == "server.handler":
            parent = sent.get(s.get("message_id"))
        if parent is not None:
            children[parent].append(s)
    self_s: dict[str, float] = defaultdict(float)
    for s in win:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        self_s[layer_of(s["name"])] += (s["end"] - s["start"]) - _union_len(kids)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = self_s[layer] * 1000 / ops
    return m


def handler_times(spans: list[dict]) -> dict[str, float]:
    """message id -> handler span seconds."""
    return {s["message_id"]: s["end"] - s["start"]
            for s in spans if s["name"] == "server.handler"}


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the Spark event log: (jobs, stage_tasks). jobs maps job id
    to {group, submit_ms, stages, ok}; stage_tasks maps a stage id to a
    list of (duration_ms, run_ms, gc_ms, shuffle_write_bytes,
    spill_bytes) per finished task."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    seen: set[int] = set()
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"',
              '"SparkListenerTaskEnd"')
    for path in glob.glob(os.path.join(log_dir, "*")):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                head = line[:60]
                if not any(w in head for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    # a stage reused by a later job ran (or was skipped)
                    # once: it belongs to the first job that lists it
                    stages = [s for s in ev.get("Stage IDs", []) if s not in seen]
                    seen.update(stages)
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev.get("Submission Time", 0),
                        "stages": stages,
                        "ok": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["ok"] = (
                            ev["Job Result"]["Result"] == "JobSucceeded")
                else:
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    stage_tasks[ev["Stage ID"]].append((
                        info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        tm.get("Executor Run Time", 0),
                        tm.get("JVM GC Time", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    ))
    return jobs, stage_tasks


def spark_metrics(jobs: dict, stage_tasks: dict, t0_ms: float, t1_ms: float,
                  n_ops: int) -> dict:
    """Per-op Spark work of the jobs submitted in the timed window
    (epoch milliseconds)."""
    ops = max(n_ops, 1)
    win = [j for j in jobs.values() if t0_ms <= j["submit_ms"] <= t1_ms]
    stages = {s for j in win for s in j["stages"]}
    tasks = [t for s in stages for t in stage_tasks.get(s, [])]
    skew = 1.0
    for s in stages:
        durs = [t[0] for t in stage_tasks.get(s, [])]
        if len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                skew = max(skew, max(durs) / med)
    run_ms = sum(t[1] for t in tasks)
    return {
        "spark.jobs": len(win) / ops,
        "spark.tasks": len(tasks) / ops,
        "spark.task_skew": skew,
        "spark.shuffle_write_mb": sum(t[3] for t in tasks) / 1e6 / ops,
        "spark.spill_mb": sum(t[4] for t in tasks) / 1e6 / ops,
        "spark.gc_share": sum(t[2] for t in tasks) / run_ms if run_ms else 0.0,
    }


def failed_collect_jobs(jobs: dict, spans: list[dict], t0: float, t1: float,
                        n_ops: int) -> float:
    """Failed Spark jobs started inside filestats.collect spans, per op
    (the executor footer job fails when workers cannot import the
    package; the program then falls back silently)."""
    groups = {f"{GROUP_PREFIX}{s['id']}" for s in spans
              if s["name"] == "filestats.collect" and t0 <= s["start"] <= t1}
    bad = sum(1 for j in jobs.values() if j["ok"] is False and j["group"] in groups)
    return bad / max(n_ops, 1)


def per_span_table(jobs: dict, stage_tasks: dict, spans: list[dict]) -> dict:
    """Jobs, tasks and task-ms per span name (printed, not bounded)."""
    name_of = {f"{GROUP_PREFIX}{s['id']}": s["name"] for s in spans}
    out: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "tasks": 0, "task_ms": 0})
    for j in jobs.values():
        row = out[name_of.get(j["group"], "(untraced)")]
        row["jobs"] += 1
        for s in j["stages"]:
            row["tasks"] += len(stage_tasks.get(s, []))
            row["task_ms"] += sum(t[0] for t in stage_tasks.get(s, []))
    return dict(out)
