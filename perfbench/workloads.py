"""The four benchmark workloads.

Each workload builds its inputs and fixtures in `setup` (untimed),
runs closed-loop operations through the program's public entry points
until the deadline in `loop`, and checks the program's outputs in
`check` (untimed). Latency of every operation is recorded by `Ctx.op`.
`loop` resumes where the previous call stopped, so the traced run can
measure an untraced and a traced stretch in one process.

Each workload names its primary operation kinds (op_p50_ms, op_p90_ms),
its table-writing kinds (write_p50_ms) and what throughput_per_s counts:

  batch_ingest  one client commits transcript batches back to back
                with IngestPipeline.run (default config).
                primary = write = a batch; turns/s.
  object_push   two clients keep two Pub/Sub push messages in flight
                against server.IngestServer + JsonIngest.
                primary = write = a push (send to HTTP 200); records/s.
  table_ops     one client runs a seeded mix of pruned reads,
                count_where and copy-on-write DML on fragmented sinks.
                primary = point/range reads and count_where;
                write = delete/update/merge; table ops/s.
  curation      passes of the dedup / SemDeDup / PQ operator chains.
                primary = a pass; it writes no table, so write is
                the pass too; corpus rows (documents + vectors)/s.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import http.client
import json
import math
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

import gen

TOKEN = "Bearer perfbench"


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


class Ctx:
    """Run-wide state shared by a workload: session, work dir, seed,
    scale, the tracer (traced run only) and the operation log."""

    def __init__(self, spark, work: str, seed: int, scale: float,
                 tracer=None, fault: str = ""):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.fault = fault
        self.ops: list[dict] = []  # kind, phase, start, ms, ok
        self.phase = 0  # 0 untraced, 1 traced
        self._lock = threading.Lock()
        self.first_op_at: float | None = None  # epoch seconds

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    @contextmanager
    def op(self, kind: str, **attrs):
        """Time one operation; a raise marks it failed and propagates.
        `attrs` go on its span (traced run)."""
        if self.first_op_at is None:
            self.first_op_at = time.time()
        rec = {"kind": kind, "phase": self.phase, "ok": False}
        span = self.tracer.span(f"op.{kind}", **attrs) if self.tracer else nullcontext()
        with span:
            t = time.perf_counter()
            try:
                yield rec
                rec["ok"] = True
            finally:
                rec["start"] = t
                rec["ms"] = (time.perf_counter() - t) * 1000.0
                with self._lock:
                    self.ops.append(rec)

    def latencies(self, kinds=(), phase: int | None = None) -> list[float]:
        return [o["ms"] for o in self.ops
                if o["ok"] and (not kinds or o["kind"] in kinds)
                and (phase is None or o["phase"] == phase)]


def _pipeline(spark, warehouse: str):
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import default_event_rules, default_schema_rules, \
        default_tool_dim

    return IngestPipeline(spark, PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=warehouse,
        tool_dim=default_tool_dim(spark),
    ))


def _sink_write_stats(warehouse: str, tables: list[str]) -> tuple[int, int, int]:
    """(parquet files, bytes, data dirs without a stats sidecar) over
    the current snapshots of `tables`."""
    from swarm_spark.filestats import STATS_NAME
    from swarm_spark.tablestore import IcepackCatalog

    cat = IcepackCatalog(warehouse)
    files = size = bare = 0
    for name in tables:
        snap = cat.table(name).current_snapshot()
        for d in (snap or {}).get("data_dirs", []):
            if not os.path.exists(os.path.join(d, STATS_NAME)):
                bare += 1
            for root, _, fns in os.walk(d):
                for f in fns:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
    return files, size, bare


class Workload:
    name = ""
    PRIMARY: tuple[str, ...] = ()  # op kinds behind op_p50_ms / op_p90_ms
    WRITES: tuple[str, ...] = ()  # op kinds behind write_p50_ms
    THROUGHPUT = ""  # what throughput_per_s counts
    # operations a full-length run makes at least, whatever the clock:
    # where an operation takes a third of a run or more, the count would
    # otherwise flip between runs and with it the median
    MIN_OPS = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work_done = 0  # throughput numerator
        self.loop_s = 0.0

    def setup(self) -> None:
        raise NotImplementedError

    def loop(self, seconds: float, min_ops: int = 1) -> None:
        """Run operations until `seconds` have passed and `min_ops` have
        run, continuing from where the previous call stopped; adds to
        work_done and loop_s."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def info(self) -> list[tuple[str, float, str, int]]:
        """Workload-specific end-to-end figures of the untraced stretch,
        printed by name: (name, value, unit, samples)."""
        return []

    def traced_extras(self) -> dict:
        """Per-layer figures measured outside the timed window."""
        return {}


# ---------------------------------------------------------------------------


class BatchIngest(Workload):
    """Closed loop, one client: seeded transcript batches committed back
    to back into one warehouse by IngestPipeline.run (ordering window,
    single-pass write, aggregate and audit)."""

    name = "batch_ingest"
    PRIMARY = WRITES = ("batch",)
    THROUGHPUT = "turns"
    N_INPUTS = 2
    # A batch of n turns takes about 1.8 s + 7.3 us * n at local[4]
    # (4-core x86, 15 GB), so at 200k turns the fixed per-batch cost is
    # ~55% of a batch (~85% at 50k, ~20% at the 10^6 a backfill uses)
    # and an 8 s run commits three batches. Larger batches leave fewer
    # samples per run than the benchmark's run-time budget allows.
    TURNS = 200_000
    MIN_OPS = 3

    def setup(self):
        c = self.ctx
        self.n_turns = c.size(self.TURNS, 500)
        # the last input is the warm-up batch
        self.inputs = gen.write_transcripts(
            self.spark, os.path.join(c.work, "inputs"), self.n_turns,
            self.N_INPUTS + 1, c.seed)
        self.pipe = _pipeline(self.spark, os.path.join(c.work, "wh"))
        # warm-up: one full-size batch into the same warehouse (a smaller
        # one, or one into another warehouse, left the first timed batch
        # 15-25% slower than the rest)
        warm = self.N_INPUTS
        self.results = [(warm, self.pipe.run(self.spark.read.parquet(self.inputs[warm]),
                                             batch_id="warm"))]  # (input, LoadResult)

    def loop(self, seconds, min_ops=1):
        t0 = time.perf_counter()
        done = 0
        while time.perf_counter() - t0 < seconds or done < min_ops:
            i = len(self.results) - 1
            k = i % self.N_INPUTS
            df = self.spark.read.parquet(self.inputs[k])
            with self.ctx.op("batch"):
                res = self.pipe.run(df, batch_id=f"batch-{i}")
            self.results.append((k, res))
            self.work_done += res.input_rows
            done += 1
        self.loop_s += time.perf_counter() - t0

    def check(self):
        from pyspark.sql import functions as F

        errs = []
        if self.ctx.fault == "drop_row":
            t = self.pipe.catalog.table("sink_user")
            rid = t.read(self.spark).select("id").first()[0]
            t.delete_where(self.spark, [("id", "=", rid)])
        # one routing recount over every input used, tagged by input (each
        # batch has its own conversations, so the ordering window is
        # unchanged by the union)
        used = sorted({k for k, _ in self.results})
        df = None
        for k in used:
            part = self.spark.read.parquet(self.inputs[k]).withColumn("_k", F.lit(k))
            df = part if df is None else df.unionByName(part)
        routed = {k: {} for k in used}
        for r in self.pipe.routed(df).groupBy("_k", "sink_table").count().collect():
            routed[r["_k"]][r["sink_table"]] = r["count"]
        expected: dict[str, int] = {}
        for k, res in self.results:
            if {s: n for s, n in res.per_sink_rows.items() if n} != routed[k]:
                errs.append(f"batch {res.batch_id}: reported {res.per_sink_rows} "
                            f"!= routed {routed[k]}")
            for s, n in routed[k].items():
                expected[s] = expected.get(s, 0) + n
        for s, n in sorted(expected.items()):
            got = self.pipe.catalog.table(s).read(self.spark).count()
            if got != n:
                errs.append(f"{s}: {got} committed rows != {n} routed")
        agg = (self.pipe.catalog.table("_agg_hourly").read(self.spark)
               .agg(F.sum("n")).first()[0] or 0)
        if agg != sum(expected.values()):
            errs.append(f"_agg_hourly sums to {agg} != {sum(expected.values())}")
        if self.results:
            k, first = self.results[0]
            again = self.pipe.run(self.spark.read.parquet(self.inputs[k]),
                                  batch_id=first.batch_id)
            if not again.skipped:
                errs.append(f"replayed {first.batch_id} was not skipped")
        return errs

    def info(self):
        lat = self.ctx.latencies(("batch",), phase=0)
        return [("turns_per_s", self.work_done / self.loop_s, "1/s", len(lat)),
                ("batch_p50_s", statistics.median(lat) / 1000.0, "s", len(lat))]

    def traced_extras(self):
        from tracing import plan_ms

        df = self.spark.read.parquet(self.inputs[0])
        routed = self.pipe.routed(df)
        p_ms = plan_ms(routed)
        t = time.perf_counter()
        routed.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t
        sinks = sorted({r.sink_table for r in self.pipe.config.schema_rules})
        files, size, bare = _sink_write_stats(self.pipe.config.warehouse, sinks)
        batches = max(len(self.results), 1)
        rows = sum(sum(r.per_sink_rows.values()) for _, r in self.results)
        return {"pipeline.routed.plan_ms": p_ms, "pipeline.routed.exec_s": exec_s,
                "pipeline.write.files": files / batches,
                "pipeline.write.mb": size / 1e6 / batches,
                "pipeline.write.rows_per_file": rows / files if files else 0.0,
                "filestats.dirs_without_sidecar": bare}


# ---------------------------------------------------------------------------


def _envelope(message_id: str, path: str) -> bytes:
    data = base64.b64encode(json.dumps({"path": path}).encode()).decode()
    return json.dumps({"message": {"messageId": message_id, "data": data}}).encode()


def _post(port: int, body: bytes) -> tuple[int, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/event/pubsub", body=body,
                     headers={"Authorization": TOKEN,
                              "Content-Type": "application/json"})
        r = conn.getresponse()
        return r.status, r.read().decode()
    finally:
        conn.close()


class ObjectPush(Workload):
    """Closed loop with two messages outstanding: CloudTrail-shaped
    objects from two sources, posted as Pub/Sub push envelopes to
    server.IngestServer wired with make_object_handler(JsonIngest)."""

    name = "object_push"
    PRIMARY = WRITES = ("push",)
    THROUGHPUT = "records"
    CLIENTS = 2
    WARM = 6  # push latency falls over the first pushes (JIT)
    # distinct objects; the loop cycles through them under fresh message
    # ids, so a run never runs out however fast pushes become
    OBJECTS = 48
    EVOLVE_AT = 6  # objects from here on carry new optional fields

    def setup(self):
        from swarm_spark.auth import AccessPolicy, AllowRule
        from swarm_spark.manifest import ManifestStore
        from swarm_spark.pipeline_json import JsonIngest, JsonSchemaRule
        from swarm_spark.rules import EventRule
        from swarm_spark.server import IngestServer, make_object_handler

        c = self.ctx
        recs = c.size(200, 5)
        self.objects = gen.write_objects(
            os.path.join(c.work, "objects"), c.size(self.OBJECTS, 12), recs, c.seed,
            evolve_at=self.EVOLVE_AT)
        warm = gen.write_objects(os.path.join(c.work, "objects"), self.WARM, recs,
                                 c.seed + 7919, evolve_at=self.WARM, tag="warm")
        self.sinks = {"cloudtrail": "cloudtrail", "k8s-audit": "k8s_audit"}
        events = [EventRule("ct", "path", "contains", "/cloudtrail/", "cloudtrail"),
                  EventRule("k8s", "path", "contains", "/k8s-audit/", "k8s_audit")]
        rules = [
            JsonSchemaRule("cloudtrail", sink_table="cloudtrail", partition_unit="day",
                           ts_path="$.eventTime", ts_format="rfc3339",
                           id_path="$.eventID"),
            JsonSchemaRule("k8s_audit", sink_table="k8s_audit", partition_unit="day",
                           ts_path="$.stageTimestamp", ts_format="unix_ms",
                           id_path="$.auditID"),
        ]
        self.ingest = JsonIngest(self.spark, os.path.join(c.work, "wh"), events, rules)
        inner = make_object_handler(self.ingest)

        def handler(data: bytes, message_id: str):
            # a span per handled message once the traced stretch starts,
            # tagged with the message id to match client latency to it
            if c.tracer is None:
                return inner(data, message_id)
            with c.tracer.span("server.handler", message_id=message_id):
                return inner(data, message_id)

        policy = AccessPolicy(allow_rules=[
            AllowRule("bearer", (("header.Authorization", "eq", TOKEN),))])
        self.server = IngestServer(handler, ManifestStore(os.path.join(c.work, "msgs")),
                                   policy=policy).start()
        self.pushed: list[tuple[str, str, int]] = []  # message id, source, records

        def warm_push(i):
            path, src, n = warm[i]
            status, body = _post(self.server.port, _envelope(f"warm-{i}", path))
            if status != 200:
                raise RuntimeError(f"warm-up push answered {status}: {body}")
            self.pushed.append((f"warm-{i}", src, n))

        warm_push(0)
        warm_push(1)
        with ThreadPoolExecutor(self.CLIENTS) as pool:  # the two-in-flight path too
            list(pool.map(warm_push, range(2, self.WARM)))
        self.latency_by_msg: dict[str, float] = {}
        self.sent = 0  # messages handed to clients so far, over all loop calls

    def loop(self, seconds, min_ops=1):
        t0 = time.perf_counter()
        lock = threading.Lock()
        errors: list[BaseException] = []

        def client():
            while time.perf_counter() - t0 < seconds:
                with lock:
                    i = self.sent
                    self.sent += 1
                path, src, n = self.objects[i % len(self.objects)]
                mid = f"m-{self.ctx.seed}-{i}"
                body = _envelope(mid, path)
                try:
                    with self.ctx.op("push", message_id=mid) as rec:
                        status, text = _post(self.server.port, body)
                        if status != 200:
                            raise RuntimeError(f"push {mid}: HTTP {status} {text[:200]}")
                except RuntimeError:
                    continue
                except BaseException as e:  # noqa: BLE001 - reported by loop
                    errors.append(e)
                    return
                with lock:
                    self.pushed.append((mid, src, n))
                    self.latency_by_msg[mid] = rec["ms"]
                    self.work_done += n

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.loop_s += time.perf_counter() - t0
        if errors:
            raise errors[0]

    def check(self):
        errs = []
        expected: dict[str, int] = {}
        for _, src, n in self.pushed:
            expected[self.sinks[src]] = expected.get(self.sinks[src], 0) + n
        if self.ctx.fault == "drop_row":
            t = self.ingest.catalog.table("cloudtrail")
            rid = t.read(self.spark).select("id").first()[0]
            t.delete_where(self.spark, [("id", "=", rid)])
        for sink, n in sorted(expected.items()):
            got = self.ingest.catalog.table(sink).read(self.spark).count()
            if got != n:
                errs.append(f"{sink}: {got} landed rows != {n} records pushed")
        mid, src, _ = self.pushed[0]
        path = next(p for p, s, _ in self.objects if s == src)
        status, body = _post(self.server.port, _envelope(mid, path))
        if status != 200 or "skipped (completed)" not in body:
            errs.append(f"redelivered {mid} answered {status} {body[:120]}")
        return errs

    def info(self):
        lat = self.ctx.latencies(("push",), phase=0)
        return [("push_p50_ms", statistics.median(lat), "ms", len(lat)),
                ("push_p90_ms", pct(lat, 90), "ms", len(lat)),
                ("records_per_s", self.work_done / self.loop_s, "1/s", len(lat))]

    def traced_extras(self):
        from tracing import handler_times

        from swarm_spark.sources.objects import read_multidoc_json

        decode = []
        for path, _, _ in self.objects[:3]:
            t = time.perf_counter()
            read_multidoc_json(self.spark, path).count()
            decode.append((time.perf_counter() - t) * 1000.0)
        handled = handler_times(self.ctx.tracer.spans)
        over = [ms - handled[m] * 1000.0 for m, ms in self.latency_by_msg.items()
                if m in handled]
        files, _, bare = _sink_write_stats(self.ingest.catalog.root,
                                           sorted(set(self.sinks.values())))
        return {"sources.objects.decode_ms": statistics.median(decode),
                "server.overhead_ms": statistics.median(over) if over else 0.0,
                "filestats.dirs_without_sidecar": bare}

    def close(self):
        self.server.stop()


# ---------------------------------------------------------------------------


def _when(epoch_s: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(tzinfo=None)


class TableOps(Workload):
    """Closed loop, one client: a seeded sequence of pruned point and
    time-range reads, count_where, and copy-on-write delete / update /
    merge on the same fragmented sink tables; compact only on a table
    the reads never query."""

    name = "table_ops"
    PRIMARY = ("point", "range", "count")
    WRITES = ("delete", "update", "merge")
    THROUGHPUT = "table ops"
    # Four light-epoch appends of 50k turns (~1.5 s each at local[4])
    # leave ~390 files in sink_errors, the sink the ops run on (hour
    # partitions); tens of appends would not fit the run-time budget of
    # a benchmark run.
    TURNS, BATCHES = 50_000, 4

    def setup(self):
        c = self.ctx
        self.n_turns = c.size(self.TURNS, 500)
        self.n_batches = self.BATCHES
        inputs = gen.write_transcripts(self.spark, os.path.join(c.work, "inputs"),
                                       self.n_turns, self.n_batches, c.seed)
        self.pipe = _pipeline(self.spark, os.path.join(c.work, "wh"))
        for i, p in enumerate(inputs):
            self.pipe.run(self.spark.read.parquet(p), batch_id=f"fixture-{i}",
                          with_agg=False, with_audit=False)
        sinks = sorted({r.sink_table for r in self.pipe.config.schema_rules})
        self.fixture_files = _sink_write_stats(self.pipe.config.warehouse, sinks)
        self.ops_todo = gen.table_ops(self.n_turns, self.n_batches, 5000, c.seed)
        self.tables = {n: self.pipe.catalog.table(n)
                       for n in (gen.READ_TABLE, gen.COMPACT_TABLE)}
        # warm-up: a point, range and count read, and a delete on the
        # compaction table (never read)
        point, rng_, count, delete = gen.table_ops(self.n_turns, self.n_batches, 4,
                                                   c.seed + 7919)
        for op in (point, rng_, count, {**delete, "table": gen.COMPACT_TABLE}):
            self._execute(op)
        self.done: list[dict] = []

    def _preds(self, op):
        return [(c, o, _when(v) if c == "timestamp" else v) for c, o, v in op["preds"]]

    def _execute(self, op):
        from pyspark.sql import functions as F

        t = self.tables[op["table"]]
        preds = self._preds(op)
        kind = op["kind"]
        if kind in ("point", "range"):
            return t.read(self.spark, prune=preds).count()
        if kind == "count":
            return t.count_where(self.spark, preds, report=True)
        if kind == "delete":
            return t.delete_where(self.spark, preds)
        if kind == "update":
            return t.update_where(self.spark, preds, {"text": F.lit("[redacted]")})
        if kind == "merge":
            incoming = t.read(self.spark, prune=preds).withColumn("text", F.lit("[merged]"))
            # (conv_id, turn_idx) is unique per sink and clustered by
            # batch, so the merge rewrites only the dirs its keys touch
            return t.merge_upsert(self.spark, incoming, keys=["conv_id", "turn_idx"])
        return t.compact(self.spark)

    def loop(self, seconds, min_ops=1):
        t0 = time.perf_counter()
        # whole cycles only, so every run has the same op mix
        while (time.perf_counter() - t0 < seconds
               or len(self.done) % len(gen.CYCLE)):
            op = self.ops_todo[len(self.done)]
            t = self.tables[op["table"]]
            before = t.current_snapshot()["snapshot_id"]
            with self.ctx.op(op["kind"]):
                out = self._execute(op)
            self.done.append({**op, "before": before, "out": out,
                              "after": t.current_snapshot()["snapshot_id"]})
            self.work_done += 1
        self.loop_s += time.perf_counter() - t0

    def check(self):
        """Every read and count_where equals the count of the same
        conjuncts over an unpruned read at the same snapshot (one
        aggregate job per table); every DML report matches the row
        accounting."""
        from pyspark.sql import functions as F

        from swarm_spark.filestats import predicate_column

        if self.ctx.fault == "drop_row":
            for d in self.done:
                if d["kind"] in ("point", "range"):
                    d["out"] -= 1
                    break
        want: dict[str, dict[int, list]] = {}
        for d in self.done:
            if d["table"] == gen.COMPACT_TABLE:
                continue
            snaps = want.setdefault(d["table"], {})
            snaps.setdefault(d["before"], []).append(self._preds(d))
            snaps.setdefault(d["after"], [])
        # one job per table: every snapshot read unpruned, tagged, and
        # each predicate counted on its own snapshot's rows
        counts: dict[tuple[str, int], tuple[int, list[int]]] = {}
        for table, snaps in want.items():
            t = self.tables[table]
            reads = [t.read(self.spark, snapshot_id=sid).withColumn("_snap", F.lit(sid))
                     for sid in snaps]
            df = reads[0]
            for r in reads[1:]:
                df = df.unionByName(r)
            aggs, slots = [F.count(F.lit(1)).alias("_n")], {}
            for sid, preds in snaps.items():
                for j, p in enumerate(preds):
                    slots[(sid, j)] = f"_m{len(slots)}"
                    aggs.append(F.sum(F.coalesce(predicate_column(p), F.lit(False))
                                      .cast("long")).alias(slots[(sid, j)]))
            rows = {r["_snap"]: r for r in df.groupBy("_snap").agg(*aggs).collect()}
            for sid, preds in snaps.items():
                r = rows.get(sid)
                counts[(table, sid)] = (
                    r["_n"] if r else 0,
                    [(r[slots[(sid, j)]] or 0) if r else 0 for j in range(len(preds))])
        seen: dict[tuple[str, int], int] = {}
        errs = []
        for d in self.done:
            if d["table"] == gen.COMPACT_TABLE:
                continue
            key = (d["table"], d["before"])
            i = seen.get(key, 0)
            seen[key] = i + 1
            total, matches = counts[key]
            match, after = matches[i], counts[(d["table"], d["after"])][0]
            out, kind = d["out"], d["kind"]
            if kind in ("point", "range"):
                got = out
            else:
                got = out[{"count": "count", "delete": "rows_deleted",
                           "update": "rows_updated", "merge": "rows_matched"}[kind]]
            if got != match:
                errs.append(f"{kind} {d['table']}@{d['before']} {d['preds']}: "
                            f"{got} != residual count {match}")
            if kind in self.WRITES:
                expect = total - match if kind == "delete" else \
                    total + out.get("rows_inserted", 0)
                if after != expect:
                    errs.append(f"{kind} {d['table']}: {total} rows -> {after}, "
                                f"expected {expect}")
        return errs

    def info(self):
        reads = self.ctx.latencies(self.PRIMARY, phase=0)
        dml = self.ctx.latencies(self.WRITES, phase=0)
        return [("read_p50_ms", statistics.median(reads), "ms", len(reads)),
                ("read_p90_ms", pct(reads, 90), "ms", len(reads)),
                ("dml_p50_ms", statistics.median(dml), "ms", len(dml))]

    def traced_extras(self):
        files, size, bare_before = self.fixture_files
        sinks = sorted({r.sink_table for r in self.pipe.config.schema_rules})
        _, _, bare = _sink_write_stats(self.pipe.config.warehouse, sinks)
        rows = sum(self.pipe.catalog.table(s).current_snapshot().get("row_count", 0)
                   for s in sinks)
        return {"pipeline.write.files": files / self.n_batches,
                "pipeline.write.mb": size / 1e6 / self.n_batches,
                "pipeline.write.rows_per_file": rows / files if files else 0.0,
                "filestats.dirs_without_sidecar": bare}


# ---------------------------------------------------------------------------


def _canon_hash(pdf) -> str:
    """Order-insensitive value hash: columns by name, rows sorted,
    floats rounded (the repo's oracle comparison rule)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for col in pdf.columns:
        if pdf[col].dtype.kind == "f":
            pdf[col] = pdf[col].round(4)
        elif pdf[col].dtype == object:
            pdf[col] = pdf[col].astype(str).where(~pdf[col].isna(), None)
    pdf = pdf.sort_values(list(pdf.columns), na_position="first").reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


CHAINS = (("curation", "q_curation"), ("semantic_dedup", "q_semantic_dedup"),
          ("pq_ann", "q_pq_ann"))


class Curation(Workload):
    """Closed loop of passes; each pass runs the q_curation chain
    (dedup_exact -> minhash_lsh_pairs -> quality gate),
    semantic_dedup_keep, and pq_train -> pq_encode -> pq_topk over a
    seeded corpus."""

    name = "curation"
    PRIMARY = WRITES = ("pass",)
    THROUGHPUT = "corpus rows"
    MIN_OPS = 2

    def setup(self):
        c = self.ctx
        self.n_docs, self.n_vecs = c.size(5000, 200), c.size(2000, 100)
        self.sf = os.path.join(c.work, "corpus")
        gen.write_corpus(self.sf, self.n_docs, self.n_vecs, c.seed)
        # warm-up: one pass over a half-size corpus of another seed (a
        # 400-document one left the first timed pass ~20% slower)
        warm = os.path.join(c.work, "corpus_warm")
        gen.write_corpus(warm, self.n_docs // 2, self.n_vecs // 2, c.seed + 7919)
        self._pass(warm)
        self.hashes: list[dict] = []
        self.plans = (0, 0)

    def _pass(self, sf):
        import __spark_entry__ as entry

        out, frames = {}, {}
        for chain, fn in CHAINS:
            span = (self.ctx.tracer.span(f"op.curation.{chain}")
                    if self.ctx.tracer else nullcontext())
            with span:
                df = getattr(entry, fn)(self.spark, sf)
                out[chain] = df.toPandas()
            frames[chain] = df
        return out, frames

    def loop(self, seconds, min_ops=1):
        t0 = time.perf_counter()
        done = 0
        while time.perf_counter() - t0 < seconds or done < min_ops:
            done += 1
            with self.ctx.op("pass"):
                out, frames = self._pass(self.sf)
            if self.ctx.fault == "drop_row":
                out["curation"] = out["curation"].iloc[1:]
            self.hashes.append({k: (_canon_hash(v), len(v)) for k, v in out.items()})
            self.work_done += self.n_docs + self.n_vecs
        self.loop_s += time.perf_counter() - t0
        if self.ctx.tracer:
            from tracing import python_eval_nodes

            nodes = [python_eval_nodes(df) for df in frames.values()]
            self.plans = (sum(n[0] for n in nodes), sum(n[1] for n in nodes))

    def check(self):
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            oracle = entry.oracle_sql()
            want = {chain: (_canon_hash(con.sql(oracle[chain]).df()), None)
                    for chain, _ in CHAINS}
        finally:
            con.close()
        errs = []
        for i, got in enumerate(self.hashes):
            for chain in want:
                if got[chain][0] != want[chain][0]:
                    errs.append(f"pass {i}: {chain} ({got[chain][1]} rows) does not "
                                "hash-equal the DuckDB oracle")
        return errs

    def info(self):
        lat = self.ctx.latencies(("pass",), phase=0)
        return [("curation_s", statistics.median(lat) / 1000.0, "s", len(lat))]

    def traced_extras(self):
        return {"operators.python_eval.batch": self.plans[0],
                "operators.python_eval.arrow": self.plans[1]}


WORKLOADS = {w.name: w for w in (BatchIngest, ObjectPush, TableOps, Curation)}
