"""icepack — snapshot-committed parquet tables (the Iceberg stand-in).

This container ships no Iceberg/Delta jars, so the pipeline's table
semantics are provided by a minimal, self-contained table format that
mirrors the Iceberg behaviors the north_rule depends on:

* ATOMIC COMMIT: data files are written to a fresh snapshot directory
  first; the snapshot becomes visible only when the CURRENT pointer is
  atomically replaced (os.replace). Readers never observe partial
  writes — the analogue of swarm's pending-stream → finalize →
  BatchCommitWriteStreams flow (/root/reference/pkg/infra/bq/client.go:240-263)
  and of an Iceberg snapshot commit.
* MONOTONIC SCHEMA EVOLUTION: appends union-merge the incoming schema
  with the table schema by name — existing field order preserved, new
  fields appended, same-name-different-type → hard error — the exact
  contract of swarm's bqs.Merge/createOrUpdateTable
  (pkg/usecase/bigquery.go:15-62; pinned by pkg/usecase/migrate_test.go:77-132).
* OPTIMISTIC CONCURRENCY: commit re-reads CURRENT and retries the merge
  if another writer advanced it — the ETag-guarded update
  (pkg/infra/bq/client.go:282-288).
* TIME PARTITION TRANSFORMS: hour/day/month/year on a timestamp column
  (pkg/usecase/utils.go:170-194, types/types.go:51-57) materialize as a
  hidden `_p` hive-partition column, giving real partition pruning on
  read via `read(..., ts_between=...)`.
* TIME TRAVEL / LINEAGE: every snapshot records parent id, row count,
  and operation — the audit/resume substrate (north_rule "resumable
  from Iceberg snapshot/checkpoint state").

When real Iceberg jars are on the classpath,
swarm_spark.catalogs.IcebergCatalog implements the SAME Catalog/Table
protocol over the Spark SQL catalog API (writeTo/spark.table, hidden
partition transforms, snapshot procedures) — the pipeline depends only
on the small protocol below, so swapping is a constructor argument.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark import filestats

_PART_FMT = {
    "hour": "yyyy-MM-dd-HH",
    "day": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
}
# the same transforms as strftime formats, for rows written without Spark
_PY_PART_FMT = {"hour": "%Y-%m-%d-%H", "day": "%Y-%m-%d", "month": "%Y-%m", "year": "%Y"}


def _session_zone():
    """The active session's spark.sql.session.timeZone as a tzinfo:
    a region id (Asia/Tokyo) or a fixed offset (+09:00, UTC+9, Z)."""
    import datetime as dt
    import re
    from zoneinfo import ZoneInfo

    tz = SparkSession.active().conf.get("spark.sql.session.timeZone")
    m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d{1,2})(?::?(\d\d))?(?::?(\d\d))?", tz)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        h, mi, s = (int(g or 0) for g in m.group(2, 3, 4))
        return dt.timezone(sign * dt.timedelta(hours=h, minutes=mi, seconds=s))
    return dt.timezone.utc if tz in ("Z", "UTC", "GMT") else ZoneInfo(tz)


class SchemaConflictError(ValueError):
    """Same-name different-type — the hard-error contract of
    bqs schema merge (migrate_test.go:115-132)."""


class IncrementalReadError(RuntimeError):
    """Raised when the snapshot range contains a non-append operation
    (overwrite/merge/compact), so an append-diff does not describe the
    change — the caller must fall back to a full recompute. Same
    restriction as Iceberg's incremental append scan."""


class CommitConflict(RuntimeError):
    """CURRENT advanced between reading the table and committing a
    REWRITE (compact / merge): blindly rebasing would silently drop
    the concurrent append's rows, so the commit aborts and the caller
    recomputes from the new CURRENT — the validation-exception-and-
    retry semantics of an Iceberg rewrite. Plain appends never raise
    this (their rebase is a pure union); overwrite() is an explicit
    replace-the-table op and keeps last-write-wins."""


def merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union-by-name: old field order preserved, new fields appended,
    nested structs merged recursively, type conflict → error."""
    by_name = {f.name: f for f in new.fields}
    out = []
    for f_old in old.fields:
        f_new = by_name.pop(f_old.name, None)
        if f_new is None:
            out.append(f_old)
            continue
        if isinstance(f_old.dataType, T.StructType) and isinstance(f_new.dataType, T.StructType):
            merged = merge_schemas(f_old.dataType, f_new.dataType)
            out.append(T.StructField(f_old.name, merged, True))
        elif f_old.dataType == f_new.dataType:
            out.append(T.StructField(f_old.name, f_old.dataType, True))
        else:
            raise SchemaConflictError(
                f"field {f_old.name!r}: {f_old.dataType.simpleString()} "
                f"vs {f_new.dataType.simpleString()}"
            )
    out.extend(by_name[f.name] for f in new.fields if f.name in by_name)
    return T.StructType(out)


class _Rewrite(NamedTuple):
    """One attempt of a copy-on-write op, planned against `base` (the
    CURRENT it read, or a stand-in carrying the parent id, schema and
    layout): `transform` maps the live rows of `affected` to the rows
    to write, `counters(live_rows, written_rows)` gives the op's
    result keys."""
    base: dict
    affected: list[str]
    untouched: list[str]
    transform: Callable[[DataFrame], DataFrame]
    counters: Callable[[int, int], dict] = lambda live, n: {}


class IcepackTable:
    # Minimum AGE of a claimed-but-unadvanced snap file before another
    # writer may adopt it as orphaned (its owner presumed dead). A
    # live writer's claim→CURRENT window is sub-millisecond, so 1 s is
    # a generous safety margin without wedging recovery.
    ADOPT_GRACE_SEC = 1.0
    # Attempts a rewrite (or mor delete) makes before giving up to
    # concurrent commits; each lost attempt recomputes from the new
    # CURRENT.
    COMMIT_RETRIES = 10

    def __init__(self, root: str, name: str, store=None):
        self.name = name
        self.path = os.path.join(root, name)
        self.meta = os.path.join(self.path, "_meta")
        self.data = os.path.join(self.path, "data")
        os.makedirs(self.meta, exist_ok=True)
        os.makedirs(self.data, exist_ok=True)
        # Snapshot metadata goes through a pluggable store (metastore.py):
        # PosixMetaStore (default, local fs) or CASMetaStore (conditional-
        # put object-store semantics). Data files are parquet on disk
        # either way — only pointer/claim atomicity differs.
        if store is None:
            from swarm_spark.metastore import PosixMetaStore

            store = PosixMetaStore(self.meta)
        self.store = store

    # -- metadata ----------------------------------------------------
    def _current_id(self) -> int | None:
        return self.store.current_id()

    def _snap_path(self, sid: int) -> str:
        # kept for the Posix default (tests/tools plant claim files);
        # store-agnostic code should use store.plant_claim instead
        return os.path.join(self.meta, f"snap-{sid:012d}.json")

    def current_snapshot(self) -> dict | None:
        sid = self._current_id()
        if sid is None:
            return None
        snap = self.store.read_snap(sid)
        if snap is None:
            raise FileNotFoundError(
                f"table {self.name}: CURRENT={sid} but snapshot is missing"
            )
        return snap

    def _require_snapshot(self) -> dict:
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        return snap

    def snapshots(self) -> list[dict]:
        out = []
        for sid in self.store.list_sids():
            snap = self.store.read_snap(sid)
            if snap is not None:
                out.append(snap)
        return out

    def exists(self) -> bool:
        return self._current_id() is not None

    # -- tags: named, expire-protected snapshot pins ------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg tag): `read(tag=name)`
        reads it forever — expire_snapshots never drops a tagged
        snapshot or its files. THE reproducible-training-run handle: a
        dataset release is a tag, and later appends/deletes/compacts
        can never change what the tag reads."""
        sid = snapshot_id if snapshot_id is not None else self._current_id()
        if sid is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        self.snapshot(sid)  # must exist
        self.store.set_tag(name, sid)
        return sid

    def drop_tag(self, name: str) -> bool:
        """Unpin; the snapshot becomes expirable again."""
        return self.store.delete_tag(name)

    def tags(self) -> dict:
        return self.store.list_tags()

    def schema(self) -> T.StructType | None:
        snap = self.current_snapshot()
        if snap is None:
            return None
        return T.StructType.fromJson(json.loads(snap["schema"]))

    # -- write -------------------------------------------------------
    def _commit(self, snap: dict) -> int:
        """Atomic pointer swap with optimistic retry (ETag analogue).

        The snapshot FILE itself is claimed exclusively with os.link
        (EEXIST if a concurrent writer already claimed the same sid),
        so two writers that both read the same CURRENT can never
        silently clobber each other's snap-<sid>.json — the loser
        loops back into the rebase path instead. CURRENT then advances
        via os.replace (atomic on POSIX). A claim whose owner died
        before advancing CURRENT is adopted after a grace period so an
        orphaned snap file cannot wedge the table forever.
        """
        base_dirs = snap.pop("_base_dirs", None) or []
        # Conditional commit: require the PARENT snapshot (whatever it is at
        # claim time, including after a rebase) to carry these metadata
        # key→values, else CommitConflict. This is how a checkpointed
        # consumer (incremental.refresh_agg) makes "append iff the
        # checkpoint is still X" atomic — two concurrent refreshes that
        # both read checkpoint X cannot BOTH land their delta, because the
        # winner's commit changes the checkpoint the loser requires.
        require_meta = snap.pop("_require_parent_meta", None)
        # Unique writer token: after advancing CURRENT we re-read the
        # claimed snap file and verify it still carries OUR token — if
        # an adopter clobbered it during the claim→CURRENT window we
        # loop back into the rebase path instead of silently returning
        # a sid whose lineage dropped our data_dirs.
        writer_token = uuid.uuid4().hex
        snap["_writer"] = writer_token
        claim_fails = 0
        last_cur: object = object()  # sentinel ≠ any snapshot id
        for _ in range(200):
            cur = self._current_id()
            if cur != last_cur:
                # CURRENT advanced (or first look): failures counted
                # against an EARLIER sid say nothing about this one
                claim_fails = 0
                last_cur = cur
                if require_meta:
                    parent_snap = self.current_snapshot() if cur is not None else None
                    for k, v in require_meta.items():
                        have = parent_snap.get(k) if parent_snap is not None else None
                        if have != v:
                            raise CommitConflict(
                                f"table {self.name}: parent snapshot meta "
                                f"{k}={have!r} != required {v!r}"
                            )
            if cur != snap["parent"]:
                if snap["op"] in ("compact", "merge", "delete", "update"):
                    # rewrites are computed FROM a snapshot's contents;
                    # committing over a different one loses rows
                    raise CommitConflict(
                        f"table {self.name}: CURRENT advanced during "
                        f"{snap['op']} (expected {snap['parent']}, found {cur})"
                    )
                # another writer advanced the table; rebase lineage
                parent_snap = self.current_snapshot()
                snap["parent"] = cur
                if parent_snap is not None and snap["op"] == "append":
                    prev_dirs = parent_snap["data_dirs"]
                    # `not in prev_dirs` is belt-and-braces against the
                    # object-store adoption edge where our payload was
                    # committed by a displaced owner: never double-add
                    new_only = [d for d in snap["data_dirs"]
                                if d not in base_dirs and d not in prev_dirs]
                    snap["data_dirs"] = prev_dirs + new_only
                    # re-anchor the base so a SECOND rebase doesn't
                    # re-add the first rebase's dirs (double-count),
                    # and recompute the cumulative row count against
                    # the new parent
                    base_dirs = list(prev_dirs)
                    snap["row_count"] = parent_snap.get("row_count", 0) + snap.get("added_rows", 0)
                    # masks come from whatever the NEW parent carries
                    snap["deletes"] = list(parent_snap.get("deletes") or [])
                    old = T.StructType.fromJson(json.loads(parent_snap["schema"]))
                    new = T.StructType.fromJson(json.loads(snap["schema"]))
                    snap["schema"] = json.dumps(merge_schemas(old, new).jsonValue())
                elif parent_snap is not None and snap["op"] == "mor_delete":
                    # metadata-only delete: rebase over appends — dirs,
                    # schema, row_count come from the new parent; our
                    # entries keep their ORIGINAL applies_to (rows
                    # appended after the delete are out of scope, the
                    # dir-granular Iceberg sequence-number rule). A
                    # rewrite in between may have FOLDED or dropped the
                    # dirs we scoped to — committing over it would make
                    # the mask a silent no-op, so conflict instead.
                    parent_ids = {e["id"] for e in parent_snap.get("deletes") or []}
                    own = [e for e in snap.get("deletes", [])
                           if e["id"] not in parent_ids]
                    live = {self._dir_sval(d) for d in parent_snap["data_dirs"]}
                    for e in own:
                        if not all(a in live for a in e["applies_to"]):
                            raise CommitConflict(
                                f"table {self.name}: rewrite landed during "
                                f"mor_delete — rescope from new CURRENT"
                            )
                    snap["data_dirs"] = list(parent_snap["data_dirs"])
                    snap["schema"] = parent_snap["schema"]
                    snap["row_count"] = parent_snap.get("row_count", 0)
                    snap["deletes"] = (parent_snap.get("deletes") or []) + own
                continue
            sid = (cur or 0) + 1
            snap["snapshot_id"] = sid
            # Claim/advance/verify delegate to the metadata store
            # (metastore.py): PosixMetaStore = link-claim + flock-fenced
            # adoption + replace-advance; CASMetaStore = conditional-put
            # claim + value-CAS advance (the object-store deployment).
            # Adoption is gated HERE on sustained contention plus the
            # claim's age exceeding the grace window — a claim is only
            # an ORPHAN if its writer died between claiming and
            # advancing CURRENT.
            claim_age = self.store.claim_age(sid)
            adopt = (
                claim_fails >= 20
                and claim_age is not None
                and claim_age >= self.ADOPT_GRACE_SEC
            )
            outcome = self.store.try_commit(sid, snap, cur, adopt)
            if outcome == "committed":
                return sid
            if outcome == "contended":
                claim_fails += 1
                # back off exponentially once contention is sustained:
                # a flat 5 ms x 200 budget (~1 s) would expire just as
                # ADOPT_GRACE_SEC (1 s) makes a dead writer's claim
                # adoptable — the capped ramp keeps total wait (~15 s)
                # far past the grace window while staying snappy in the
                # common quick-contention case
                time.sleep(
                    0.005 * min(2.0 ** max(0, (claim_fails - 20) // 4), 20.0)
                )
                continue
            # "lost": CURRENT advanced or our claim changed hands —
            # re-read and rebase (cur==sid != parent -> dirs re-added)
            claim_fails = 0
            continue
        raise RuntimeError(f"commit contention on table {self.name}")

    def _commit_new(self, new: dict, ddir: str | None = None) -> dict:
        """Commit `new`, which may reference the freshly written `ddir`:
        on CommitConflict the dir is stale and goes; after a commit
        that does not reference it (an empty rewrite) it goes too."""
        try:
            self._commit(new)
        except CommitConflict:
            if ddir is not None:
                shutil.rmtree(ddir, ignore_errors=True)
            raise
        if ddir is not None and ddir not in new["data_dirs"]:
            shutil.rmtree(ddir, ignore_errors=True)
        return new

    def _retry(self, op: str, attempt: Callable[[], dict]) -> dict:
        """Run `attempt()` until it returns; a CommitConflict (CURRENT
        moved under a rewrite) re-runs it from the new CURRENT."""
        for _ in range(self.COMMIT_RETRIES):
            try:
                return attempt()
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{op} on table {self.name} kept losing to concurrent commits")

    @staticmethod
    def _successor(base: dict, op: str, data_dirs: list[str], row_count: int,
                   deletes: list[dict], added_rows: int = 0) -> dict:
        """The snapshot an `op` commit makes over `base`: CURRENT as the
        op read it, or a stand-in carrying the parent's snapshot_id
        plus the schema, partition_unit and ts_col to record. User
        metadata (every other non-underscore key of `base`: consumer
        checkpoints, index scalars) carries forward but never shadows
        a core field; underscore keys (_base_dirs, _writer) are
        commit-scoped and never carry."""
        new = {
            "parent": base.get("snapshot_id"),
            "op": op,
            "data_dirs": data_dirs,
            "schema": base["schema"],
            "partition_unit": base.get("partition_unit", ""),
            "ts_col": base.get("ts_col", "timestamp"),
            "row_count": row_count,
            "added_rows": added_rows,
            "committed_at": time.time(),
            "snapshot_id": None,
            "deletes": deletes,
        }
        for key, val in base.items():
            if not key.startswith("_"):
                new.setdefault(key, val)
        return new

    def rollback(self, snapshot_id: int) -> bool:
        """Undo a committed snapshot IF it is still CURRENT: point
        CURRENT back at its parent, delete the snapshot file, and
        remove data dirs it introduced (present in it but not in the
        parent). Returns False without touching anything when other
        commits landed on top — the caller then falls back to
        manifest-based resume-skip. Restores the all-or-nothing
        contract of a multi-sink batch (≙ aborting a pending BigQuery
        write stream instead of finalizing it,
        /root/reference/pkg/infra/bq/client.go:240-263)."""
        cur = self._current_id()
        if cur != snapshot_id:
            return False
        snap = self.store.read_snap(snapshot_id)
        if snap is None:
            return False
        parent = snap["parent"]
        if parent is None:
            self.store.set_current(None)
            parent_dirs: set = set()
            parent_kf: set = set()
        else:
            self.store.set_current(parent)
            psnap = self.store.read_snap(parent)
            parent_dirs = set(psnap["data_dirs"])
            parent_kf = {e.get("key_file")
                         for e in psnap.get("deletes") or [] if e.get("key_file")}
        self.store.delete_snap(snapshot_id)
        # equality-delete key files introduced by this snapshot go too
        for e in snap.get("deletes") or []:
            kf = e.get("key_file")
            if kf and kf not in parent_kf and os.path.isdir(kf):
                shutil.rmtree(kf, ignore_errors=True)
        for d in snap["data_dirs"]:
            if d not in parent_dirs and os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
        return True

    def _write_data(self, df: DataFrame, partition_unit: str, ts_col: str,
                    cluster_by: list[str] | None = None,
                    target_files: int | None = None,
                    zorder_by: list[str] | None = None) -> tuple[str, int]:
        if zorder_by:
            if cluster_by:
                raise ValueError("pass cluster_by OR zorder_by, not both")
            # z-order = cluster on the interleaved-bits expression:
            # every file gets a tight bounding box in ALL the z-ordered
            # dimensions, so read(prune=...) skips on any one of them
            cluster_by = [filestats.zorder_expression(df, zorder_by)]
        # `_s=<uuid>` — the snapshot dir is ITSELF a hive partition
        # level, so every data dir of a table shares one uniform
        # key=value layout under data/ and read() can load ALL dirs as
        # ONE partitioned relation (basePath=data): flat plan depth,
        # partition pruning on _p intact, `_s` dropped after read.
        ddir = os.path.join(self.data, f"_s={uuid.uuid4().hex}")
        if partition_unit:
            df = df.withColumn("_p", F.date_format(F.col(ts_col), _PART_FMT[partition_unit]))
            # Shuffle on _p before the partitioned write. Two failure
            # modes to avoid: (1) no shuffle → every task writes a file
            # into every hive partition (tasks × partitions tiny files);
            # (2) REBALANCE + AQE → tiny batches coalesce to ONE task
            # that creates thousands of partition dirs SEQUENTIALLY
            # (file-creation latency bound). An explicit-count hash
            # repartition on _p keeps file creation parallel across the
            # full task width AND one file per hive partition. Hot
            # partitions (a single huge hour) are bounded per-file by
            # maxRecordsPerFile downstream if needed.
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            if cluster_by:
                # range-partition on (_p, cluster cols): each task owns
                # a CONTIGUOUS (_p, cluster) slice, so a hive partition
                # bigger than one task splits into cluster-range file
                # slices — hash-on-_p would give ONE file per partition
                # whose cluster bounds span the whole range (useless
                # for skipping). Sort makes each file's footer bounds
                # tight. File creation stays parallel across tasks.
                ccols = [c if not isinstance(c, str) else F.col(c) for c in cluster_by]
                df = df.repartitionByRange(target_files or n, F.col("_p"), *ccols)
                df = df.sortWithinPartitions(F.col("_p"), *ccols)
            else:
                df = df.repartition(n, F.col("_p"))
        elif cluster_by:
            # unpartitioned table: range-partition + sort so output
            # files cover near-disjoint cluster-column ranges
            ccols = [c if not isinstance(c, str) else F.col(c) for c in cluster_by]
            df = (df.repartitionByRange(target_files, *ccols) if target_files
                  else df.repartitionByRange(*ccols))
            df = df.sortWithinPartitions(*ccols)
        # row count rides the write action itself — one pass, no extra
        # scan (≙ swarm's append-count verify, pkg/infra/bq/client.go:240-248)
        obs = Observation(f"rows-{uuid.uuid4().hex[:8]}")
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer = df.write.mode("overwrite")
        if partition_unit:
            writer = writer.partitionBy("_p")
        writer.parquet(ddir)
        n = int(obs.get["n"])
        if n:
            # per-file column bounds sidecar (Iceberg manifest metrics
            # analogue) — footers only, best-effort; read prune= uses
            # it to skip files before the scan is planned. Big dirs
            # parse their footers in executor workers (GIL — see
            # collect_dir_stats).
            filestats.collect_dir_stats(ddir, spark=df.sparkSession)
        return ddir, n

    def _append_snapshot(self, ddir: str | None, n: int,
                         incoming_schema: T.StructType,
                         partition_unit: str, ts_col: str,
                         extra_meta: dict | None = None,
                         require_parent_meta: dict | None = None) -> dict:
        """Shared commit path for append() and adopt_dir(): schema
        evolution + snapshot construction around an already-written
        (or absent, when n==0) data dir, which goes if the conditional
        commit fails."""
        prev = self.current_snapshot()
        if prev is not None:
            old_schema = T.StructType.fromJson(json.loads(prev["schema"]))
            schema = merge_schemas(old_schema, incoming_schema)
            partition_unit = prev.get("partition_unit") or partition_unit
        else:
            schema = incoming_schema
        base = {**(extra_meta or {}),
                "snapshot_id": prev["snapshot_id"] if prev else None,
                "schema": json.dumps(schema.jsonValue()),
                "partition_unit": partition_unit, "ts_col": ts_col}
        prev_dirs = prev["data_dirs"] if prev else []
        snap = self._successor(
            base, "append", prev_dirs + ([ddir] if ddir is not None else []),
            (prev.get("row_count", 0) if prev else 0) + n,
            # pending merge-on-read masks survive appends untouched —
            # the new dirs are outside every entry's applies_to scope
            list(prev.get("deletes") or []) if prev else [], added_rows=n)
        snap["_base_dirs"] = prev_dirs
        if require_parent_meta:
            snap["_require_parent_meta"] = require_parent_meta
        return self._commit_new(snap, ddir)

    def append(self, df: DataFrame, partition_unit: str = "", ts_col: str = "timestamp",
               extra_meta: dict | None = None,
               require_parent_meta: dict | None = None) -> dict:
        """Append with schema evolution; returns the committed snapshot.
        `extra_meta` rides the snapshot json (Iceberg snapshot summary
        analogue) — e.g. a consumer checkpoint, so the checkpoint and
        the data land in ONE atomic commit. `require_parent_meta`
        makes the append CONDITIONAL: it commits only if the parent
        snapshot at commit time carries those key→values, else raises
        CommitConflict (the written data dir is removed; orphan GC
        also covers it)."""
        prev = self.current_snapshot()
        unit = (prev.get("partition_unit") or partition_unit) if prev else partition_unit
        ddir, n = self._write_data(df, unit, ts_col)
        return self._append_snapshot(ddir, n, df.schema, partition_unit, ts_col,
                                     extra_meta=extra_meta,
                                     require_parent_meta=require_parent_meta)

    def append_rows(self, rows: list[tuple], schema: T.StructType,
                    partition_unit: str = "", ts_col: str = "timestamp") -> dict:
        """Append a few DRIVER-SIDE rows (an audit record) with no Spark
        job: pyarrow writes one zstd parquet file per `_p` value into a
        fresh `_s=` dir, which adopt_dir commits. `schema` is the exact
        Spark schema the rows follow (recorded like append()'s
        df.schema, so old and new audit rows merge); timestamps are
        timezone-aware datetimes, and `_p` is computed in
        spark.sql.session.timeZone, where date_format puts it. For
        metadata-sized rows only: they are converted in the driver's
        Python. For one row a DataFrame append costs two Spark jobs
        where this costs one file write and a metadata commit."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        prev = self.current_snapshot()
        unit = (prev.get("partition_unit") or partition_unit) if prev else partition_unit
        ddir = None
        if rows:
            ddir = os.path.join(self.data, f"_s={uuid.uuid4().hex}")
            by_p: dict[str, list[tuple]] = {}
            if unit:
                zone = _session_zone()
                i = schema.names.index(ts_col)
                for r in rows:
                    p = r[i].astimezone(zone).strftime(_PY_PART_FMT[unit])
                    by_p.setdefault(f"_p={p}", []).append(r)
            else:
                by_p[""] = list(rows)
            asch = to_arrow_schema(schema)
            for sub, part in by_p.items():
                os.makedirs(os.path.join(ddir, sub), exist_ok=True)
                tbl = pa.Table.from_pylist(
                    [dict(zip(schema.names, r)) for r in part], schema=asch)
                pq.write_table(tbl, os.path.join(
                    ddir, sub, f"part-{uuid.uuid4().hex}.zstd.parquet"),
                    compression="zstd")
        return self.adopt_dir(ddir, len(rows), schema, partition_unit, ts_col)

    def adopt_dir(self, ddir: str | None, added_rows: int,
                  schema: T.StructType, partition_unit: str = "",
                  ts_col: str = "timestamp",
                  extra_meta: dict | None = None) -> dict:
        """Commit an ALREADY-WRITTEN parquet directory as an append
        snapshot (schema evolution rules identical to append). This is
        the single-pass multi-sink write path: one partitionBy(sink)
        job writes every sink's data, then each sink table adopts its
        subdirectory — N sinks cost ONE Spark job instead of N.
        `schema` is the sink's LOGICAL schema: the files may carry
        extra columns (e.g. per-sink dropped fields written as nulls);
        read() projects to the recorded schema so they stay invisible.
        ddir=None (or added_rows==0 with no dir) commits an empty
        append, keeping per-batch lineage rows consistent.

        The directory is MOVED (atomic same-fs rename) under the
        table's data/ root as `_s=<uuid>` so all of a table's dirs
        keep the uniform hive layout the single-relation read needs;
        on an object store this is the manifest-pointer equivalent."""
        if ddir is not None:
            dst = os.path.join(self.data, f"_s={uuid.uuid4().hex}")
            if os.path.abspath(os.path.dirname(ddir)) != os.path.abspath(self.data):
                try:
                    os.rename(ddir, dst)
                except OSError:
                    shutil.move(ddir, dst)
                ddir = dst
            filestats.collect_dir_stats(ddir)
        return self._append_snapshot(ddir, added_rows, schema, partition_unit,
                                     ts_col, extra_meta=extra_meta)

    # -- write-audit-publish (Iceberg WAP / branch-write pattern) -----
    def stage(self, df: DataFrame, partition_unit: str = "",
              ts_col: str = "timestamp") -> dict:
        """WAP step 1: write the data files WITHOUT advancing CURRENT.
        Readers cannot see staged data (it is an unreferenced `_s=`
        dir until published). Returns a stage handle for
        read_stage/publish_stage/abort_stage. Orphan GC's dwell time
        (`remove_orphan_files(older_than_sec)`) must exceed the audit
        window — a staged-but-unpublished dir is indistinguishable
        from a crashed writer's, BY DESIGN (abandoned stages are
        garbage)."""
        prev = self.current_snapshot()
        unit = (prev.get("partition_unit") or partition_unit) if prev \
            else partition_unit
        ddir, n = self._write_data(df, unit, ts_col)
        return {"stage_dir": ddir, "rows": n,
                "schema": json.dumps(df.schema.jsonValue()),
                "partition_unit": partition_unit, "ts_col": ts_col}

    def read_stage(self, spark: SparkSession, handle: dict) -> DataFrame:
        """WAP step 2 input: the staged rows, for audit queries
        (expectations, row counts, sampling) — reads ONLY the staged
        dir, never the table."""
        schema = T.StructType.fromJson(json.loads(handle["schema"]))
        return self._live_rows(spark, [handle["stage_dir"]], [], schema)

    def publish_stage(self, handle: dict,
                      extra_meta: dict | None = None) -> dict:
        """WAP step 3: fast-forward the audited files into the table —
        a pure METADATA commit (adopt_dir: the files are not read or
        rewritten), with the audit report riding `extra_meta` so the
        published snapshot carries its own evidence."""
        schema = T.StructType.fromJson(json.loads(handle["schema"]))
        return self.adopt_dir(handle["stage_dir"], handle["rows"], schema,
                              handle["partition_unit"], handle["ts_col"],
                              extra_meta=extra_meta)

    def abort_stage(self, handle: dict) -> None:
        """Discard a staged write (audit failed). Nothing was ever
        visible; this only reclaims the files."""
        shutil.rmtree(handle["stage_dir"], ignore_errors=True)

    def overwrite(self, df: DataFrame, partition_unit: str = "",
                  ts_col: str = "timestamp", op: str = "overwrite",
                  extra_meta: dict | None = None,
                  require_parent_meta: dict | None = None) -> dict:
        """Replace the table's contents with `df` (last write wins over
        concurrent appends unless `op` is a rewrite op); `extra_meta`
        and `require_parent_meta` as in append()."""
        prev = self.current_snapshot()
        ddir, n = self._write_data(df, partition_unit, ts_col)
        base = {**(extra_meta or {}),
                "snapshot_id": prev["snapshot_id"] if prev else None,
                "schema": json.dumps(df.schema.jsonValue()),
                "partition_unit": partition_unit, "ts_col": ts_col}
        snap = self._successor(base, op, [ddir], n, [], added_rows=n)
        if require_parent_meta:
            snap["_require_parent_meta"] = require_parent_meta
        return self._commit_new(snap, ddir)

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Snapshot GC (expire_snapshots + vacuum): delete snapshot
        metadata older than the newest `keep_last` and remove data
        dirs no longer referenced by any kept snapshot. Time travel is
        only possible to kept snapshots afterwards."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"expired": 0, "data_dirs_removed": 0}
        tagged = set(self.store.list_tags().values())
        keep = snaps[-keep_last:] + [s for s in snaps[:-keep_last]
                                     if s["snapshot_id"] in tagged]
        drop = [s for s in snaps[:-keep_last]
                if s["snapshot_id"] not in tagged]
        kept_dirs = {d for s in keep for d in s["data_dirs"]}
        kept_kf = {e.get("key_file") for s in keep
                   for e in s.get("deletes") or [] if e.get("key_file")}
        removed = 0
        for s in drop:
            for d in s["data_dirs"]:
                if d not in kept_dirs and os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
            for e in s.get("deletes") or []:
                kf = e.get("key_file")
                if kf and kf not in kept_kf and os.path.isdir(kf):
                    shutil.rmtree(kf, ignore_errors=True)
            self.store.delete_snap(s["snapshot_id"])  # absent = already expired
        return {"expired": len(drop), "data_dirs_removed": removed}

    def _rewrite(self, spark: SparkSession, op: str,
                 plan: Callable[[], _Rewrite | dict],
                 write: Callable[..., tuple[str, int]] | None = None) -> dict:
        """The copy-on-write loop under merge_upsert, delete_where,
        update_where and compact, retried until its commit lands. Each
        attempt calls `plan()`, which reads CURRENT and returns either
        the op's result as is (nothing to rewrite) or a _Rewrite. The
        live rows of the affected dirs (pending merge-on-read masks
        folded, projected to the base schema) pass through its
        transform into ONE new dir, written by `write(df, unit,
        ts_col)` (default _write_data). The successor keeps the
        untouched dirs plus the new one and the masks narrowed to the
        untouched dirs (the rewrite folded the rest); its row_count
        counts physical rows. The affected dirs' live-row count rides
        the write job and feeds the op's counters. Rewrite ops commit
        strictly: a commit landing since `plan()` read CURRENT raises
        CommitConflict and the attempt re-runs from the new CURRENT."""
        def attempt() -> dict:
            rw = plan()
            if isinstance(rw, dict):
                return rw
            base, pending = rw.base, rw.base.get("deletes") or []
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            # no observation over an empty local relation: the optimizer
            # can drop it, and its get() then blocks forever
            obs = Observation() if rw.affected else None
            if obs:
                live = self._live_rows(spark, rw.affected, pending, schema) \
                    .observe(obs, F.count(F.lit(1)).alias("n"))
            else:
                live = spark.createDataFrame([], schema)
            ddir, n = (write or self._write_data)(
                rw.transform(live), base.get("partition_unit", ""),
                base.get("ts_col", "timestamp"))
            live_n = int(obs.get["n"]) if obs else 0
            row_count = n  # the new dir, plus whatever the untouched dirs hold
            if rw.untouched:
                row_count += base.get("row_count", 0) - self._physical_rows(
                    spark, rw.affected, pending, live_n)
            new = self._successor(
                base, op, rw.untouched + ([ddir] if n else []), row_count,
                self._narrow_deletes(pending, rw.untouched),
                added_rows=n if base.get("snapshot_id") is None else 0)
            self._commit_new(new, ddir)
            return {**new, "dirs_rewritten": len(rw.affected),
                    "dirs_untouched": len(rw.untouched),
                    **rw.counters(live_n, n)}

        return self._retry(op, attempt)

    def _physical_rows(self, spark: SparkSession, dirs: list[str],
                       pending: list[dict], live_n: int) -> int:
        """Rows stored in `dirs`, the unit of snapshot row_count: the
        stats sidecars' sum (metadata, no job); without one, `live_n`
        (the dirs' live rows) when no merge-on-read mask hides rows,
        else a count of the UNMASKED scan."""
        sidecars = [filestats.load_dir_stats(d) for d in dirs]
        if all(s and s.get("files") for s in sidecars):
            return sum(f["rows"] for s in sidecars for f in s["files"].values())
        return self._scan_dirs(spark, dirs).count() if pending else live_n

    def merge_upsert(self, spark: SparkSession, df: DataFrame | None,
                     keys: list[str],
                     keys_cap: int = 200_000,
                     rebuild=None) -> dict:
        """MERGE INTO analogue (upsert by key): incoming rows replace
        same-key rows, others are inserted. No Delta/Iceberg jars in
        this container, so the semantics are the standard anti-join +
        union committed atomically as a new snapshot:

            kept  = current ANTI JOIN incoming ON keys
            next  = kept UNION BY NAME incoming   (schema evolution ok)

        The rewrite is DIR-SCOPED like delete_where/update_where's
        copy-on-write DML (the Iceberg/Delta CoW MERGE shape): only
        dirs whose file stats admit a row matching an incoming key are
        scanned and rewritten; every other dir carries into the new
        snapshot untouched. Scoping is two-stage —
        1. range: conjunctive [min,max] bounds of the incoming keys
           (every key column, any stats tag);
        2. exact (single int/str key, ≤ keys_cap distinct values): the
           sorted incoming key set is bisected against each file's
           interval, so sparse keys prune dirs a range straddles
           (filestats.dirs_matching_keys).
        On a clustered 100 TB table an upsert batch touches the
        sliver of files its keys live in, not the table. NULL incoming
        keys match no current row (SQL equality) and simply insert.
        Pending merge-on-read masks are folded into rewritten dirs and
        carried narrowed on untouched ones, like every other rewrite.

        A concurrent append between read and commit aborts the commit
        (CommitConflict, op='merge') and the merge recomputes from the
        new CURRENT — otherwise it would silently drop the appended
        rows. Returns the snapshot plus dirs_rewritten /
        dirs_untouched / rows_matched / rows_inserted.

        Reference analogue: the reference's sinks are append-only
        (pkg/infra/bq/client.go) — MERGE is the lakehouse completion
        of the K1 commit family for mutable dimensions (entity
        profiles, latest-state tables)."""
        if df is None and rebuild is None:
            raise ValueError("merge_upsert needs df or rebuild")

        def plan() -> _Rewrite:
            # `rebuild` (optional zero-arg callable returning the
            # incoming DataFrame) is re-invoked on EVERY attempt, so a
            # CommitConflict retry recomputes a DERIVED batch (e.g. an
            # SCD2 delta) from the fresh table state instead of
            # re-committing a stale one. Ordering matters: the parent
            # snapshot is read FIRST, so any commit landing after it —
            # including during the rebuild — makes our commit conflict
            # and the attempt re-run; the landed attempt's delta is
            # therefore always derived from a state at least as new as
            # its parent.
            snap = self.current_snapshot()
            incoming = rebuild() if rebuild is not None else df
            if snap is None:
                # Empty table: the merge degenerates to insert-only —
                # but committed with op='merge' (conflict-on-advance),
                # NOT append: append's commit REBASES over a concurrent
                # append landing between our read and commit, which
                # would UNION rows sharing incoming keys where MERGE
                # semantics require replacement. On conflict the next
                # attempt reads the now non-empty table and scopes.
                schema = incoming.schema
                base = {"snapshot_id": None, "row_count": 0,
                        "schema": json.dumps(schema.jsonValue())}
                affected, untouched = [], []
            else:
                schema = merge_schemas(
                    T.StructType.fromJson(json.loads(snap["schema"])),
                    incoming.schema)
                base = {**snap, "schema": json.dumps(schema.jsonValue())}
                keyset = incoming.select(*keys).distinct()
                affected, untouched = self._merge_scope(
                    spark, keyset, keys, snap["data_dirs"], keys_cap)
            kept = Observation()

            def transform(live: DataFrame) -> DataFrame:
                if affected:
                    # survivor count rides the write job (no second scan)
                    live = live.join(keyset, keys, "left_anti") \
                        .observe(kept, F.count(F.lit(1)).alias("n"))
                return live.unionByName(incoming, allowMissingColumns=True) \
                    .select(*schema.names)

            def counters(live_n: int, n: int) -> dict:
                # matched = LIVE rows replaced (mask-folded rows are not
                # "matched"); snapshot row_count counts physical rows
                kept_n = int(kept.get["n"]) if affected else 0
                return {"rows_matched": live_n - kept_n,
                        "rows_inserted": n - live_n}

            return _Rewrite(base, affected, untouched, transform, counters)

        return self._rewrite(spark, "merge", plan)

    def _merge_scope(self, spark: SparkSession, keyset: DataFrame,
                     keys: list[str], dirs: list[str],
                     keys_cap: int) -> tuple[list[str], list[str]]:
        """(affected, untouched) dirs for a merge's incoming key set.
        Stage 1: per-key-column [min,max] range predicates through
        affected_dirs (any stats tag). Stage 2: for a single int/str
        key with ≤ keys_cap distinct values, refine the survivors with
        the exact sorted key set (dirs_matching_keys) — refinement is
        monotone, so it can only move dirs from affected to untouched.
        Incoming rows whose key is NULL match no current row, so the
        bounds ignore them (F.min/max already do)."""
        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"_mn_{k}"), F.max(k).alias(f"_mx_{k}"),
                     F.count(k).alias(f"_n_{k}")]
        b = keyset.agg(*aggs).first()
        if all(b[f"_mn_{k}"] is None for k in keys):
            return [], list(dirs)  # only NULL keys: nothing can match
        preds = []
        for k in keys:
            if b[f"_mn_{k}"] is not None:
                preds += [(k, ">=", b[f"_mn_{k}"]), (k, "<=", b[f"_mx_{k}"])]
        affected, untouched = filestats.affected_dirs(dirs, preds)
        if (len(keys) == 1 and affected
                and isinstance(b[f"_mn_{keys[0]}"], (int, str))
                and not isinstance(b[f"_mn_{keys[0]}"], bool)
                and b[f"_n_{keys[0]}"] <= keys_cap):
            vals = sorted(
                r[0] for r in keyset.filter(F.col(keys[0]).isNotNull()).collect()
            )
            affected, more = filestats.dirs_matching_keys(
                affected, keys[0], vals)
            untouched += more
        return affected, untouched

    def compact(self, spark: SparkSession, target_files: int | None = None,
                cluster_by: list[str] | None = None,
                zorder_by: list[str] | None = None,
                partition_unit: str | None = None,
                bloom_cols: list[str] | None = None) -> dict:
        """Small-file compaction (the rewrite_data_files maintenance
        op): rewrite CURRENT contents into a single fresh data dir
        with a bounded file count, preserving schema + partitioning.
        Appends a new snapshot (op='compact') — time travel to
        pre-compaction snapshots still works. If an append commits
        while the rewrite is in flight, the commit aborts
        (CommitConflict) and the whole rewrite re-runs from the new
        CURRENT — compaction must never drop concurrent rows.

        cluster_by=[cols] range-partitions AND sorts the rewrite on
        those columns (Iceberg rewrite_data_files sort strategy):
        each output file then covers a tight, near-disjoint value
        range, which is what makes read(prune=...) file skipping
        effective on non-time columns. zorder_by=[cols] sorts on the
        interleaved-bits Morton key instead (OPTIMIZE ZORDER): files
        get a tight bounding box in EVERY listed dimension, so prune
        works on each column independently — use it when queries
        filter on more than one column. Appends interleave values
        again — re-cluster on a maintenance cadence.

        partition_unit="day"/"hour"/... RESPECS the table (partition
        evolution as an explicit rewrite): the compacted data and all
        FUTURE appends use the new time transform. Mixed-format `_p`
        pruning is unsound, so spec change is deliberately O(table) —
        one honest rewrite instead of silently wrong ts_between reads;
        pre-compaction snapshots keep their old layout for time
        travel."""
        def plan() -> _Rewrite:
            snap = self._require_snapshot()
            unit = partition_unit if partition_unit is not None \
                else snap.get("partition_unit", "")
            coalesce = target_files and not cluster_by and not zorder_by \
                and not unit
            return _Rewrite({**snap, "partition_unit": unit},
                            list(snap["data_dirs"]), [],
                            lambda live: live.coalesce(target_files) if coalesce else live)

        def write(df: DataFrame, unit: str, ts_col: str) -> tuple[str, int]:
            ddir, n = self._write_data(df, unit, ts_col, cluster_by=cluster_by,
                                       target_files=target_files,
                                       zorder_by=zorder_by)
            if bloom_cols:
                # keep equality blooms fresh through the rewrite —
                # one scan of the just-written dir (OS-page warm),
                # before the commit so readers of the new snapshot
                # never see a bloomless window
                from swarm_spark import blooms as _blooms

                _blooms.collect_dir_blooms(spark, ddir, bloom_cols)
            return ddir, n

        return self._rewrite(spark, "compact", plan, write)

    def _narrow_deletes(self, pending: list[dict],
                        kept_dirs: list[str]) -> list[dict]:
        """Carry pending merge-on-read entries forward across a partial
        rewrite: an entry keeps only the applies_to dirs that survived
        (the rewritten dirs had the mask FOLDED into their data);
        entries left covering nothing drop out. Key files are shared
        across snapshots — expire/rollback own their lifecycle."""
        kept_ids = {self._dir_sval(d) for d in kept_dirs}
        out = []
        for e in pending:
            keep = [a for a in e["applies_to"] if a in kept_ids]
            if keep:
                out.append({**e, "applies_to": keep})
        return out

    @staticmethod
    def _json_safe_predicates(predicates: list[tuple]) -> list[list]:
        """Predicates ride snapshot JSON: datetime/date literals →
        ISO strings (filestats accepts both), tuples → lists."""
        import datetime as _dt

        out = []
        for p in predicates:
            q = []
            for x in p:
                if isinstance(x, (_dt.datetime, _dt.date)):
                    q.append(x.isoformat())
                elif isinstance(x, (tuple, set)):
                    q.append([v.isoformat() if isinstance(v, (_dt.datetime, _dt.date))
                              else v for v in x])
                else:
                    q.append(x)
            out.append(q)
        return out

    def _mor_delete_commit(self, predicates: list[tuple] | None,
                           key_file: str | None, key_cols: list[str] | None) -> dict:
        """Shared merge-on-read commit for delete_where(mode='mor') and
        delete_keys: record a delete entry scoped to the CURRENT dirs
        it can affect — no data touched, O(metadata) per call."""
        def attempt() -> dict:
            snap = self._require_snapshot()
            if predicates is not None:
                affected, _ = filestats.affected_dirs(snap["data_dirs"], predicates)
            else:  # arbitrary key sets: stats cannot exclude dirs
                affected = list(snap["data_dirs"])
            if not affected:
                return {**snap, "dirs_affected": 0, "mode": "mor",
                        "rows_deleted": 0}
            entry = {
                "id": uuid.uuid4().hex,
                "applies_to": [self._dir_sval(d) for d in affected],
            }
            if predicates is not None:
                entry["predicates"] = self._json_safe_predicates(predicates)
            else:
                entry["key_file"] = key_file
                entry["key_cols"] = list(key_cols)
            new = self._successor(snap, "mor_delete", list(snap["data_dirs"]),
                                  snap.get("row_count", 0),  # physical rows
                                  (snap.get("deletes") or []) + [entry])
            # a rewrite landing mid-commit conflicts: rescope and retry
            return {**self._commit_new(new), "dirs_affected": len(affected),
                    "mode": "mor"}

        return self._retry("mor_delete", attempt)

    def delete_keys(self, spark: SparkSession, keys_df: DataFrame,
                    key_cols: list[str]) -> dict:
        """Equality-delete FILE (Iceberg v2's merge-on-read equality
        deletes): write the key tuples once as a small parquet object,
        record it in the snapshot, and read() anti-joins it
        (broadcast) against the dirs that existed at commit time.
        THE erasure-queue shape at 100 TB: each call costs
        O(|keys| + metadata) instead of a data rewrite; compact() or a
        later cow DML folds the mask into data. NULL keys never match
        (SQL semantics)."""
        schema = self.schema()
        if schema is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        have = {f.name for f in schema.fields}
        missing = [c for c in key_cols if c not in have]
        if missing:
            raise ValueError(
                f"delete_keys: column(s) {missing} not in table schema")
        os.makedirs(os.path.join(self.path, "_deletes"), exist_ok=True)
        kdir = os.path.join(self.path, "_deletes", uuid.uuid4().hex)
        keys_df.select(*key_cols).distinct().coalesce(1).write.parquet(kdir)
        try:
            return self._mor_delete_commit(
                predicates=None, key_file=kdir, key_cols=key_cols)
        except Exception:
            shutil.rmtree(kdir, ignore_errors=True)
            raise

    def delete_where(self, spark: SparkSession, predicates: list[tuple],
                     mode: str = "cow") -> dict:
        """DELETE rows matching the conjunctive `predicates` (same
        forms as read(prune=...)). Keep semantics are SQL DELETE's:
        rows where the predicate is NULL are KEPT.

        mode="cow" (default) — copy-on-write with dir-level pruning
        (the Iceberg copy-on-write delete shape): data dirs whose file
        stats PROVE no row can match carry into the new snapshot
        UNTOUCHED; only affected dirs are rewritten. On a
        time/cluster-organized table a targeted delete (GDPR erasure,
        bad-batch excision) rewrites a sliver, not the table. Commits
        op='delete' with compact's strictness: a concurrent append
        aborts (CommitConflict) and the delete recomputes from the new
        CURRENT. Pending merge-on-read deletes covering the rewritten
        dirs are FOLDED by the rewrite; entries covering untouched
        dirs carry forward narrowed.

        mode="mor" — merge-on-read (Iceberg v2's delete-file shape):
        NO data is rewritten; the predicate is recorded in the
        snapshot scoped to the dirs it applies to, read() masks
        matching rows, and compact()/a later cow rewrite folds the
        mask into data. O(metadata) per call — the shape for
        high-frequency targeted deletes (per-user erasure queues)
        where a rewrite per call would dominate. Commits
        op='mor_delete', which REBASES over concurrent appends (the
        new rows are out of scope by construction) and conflicts on
        concurrent rewrites.

        Returns the snapshot; extra keys `dirs_rewritten` /
        `dirs_untouched` / `rows_deleted` (cow) or `dirs_affected` /
        `mode` (mor) report the work done."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"delete_where: mode must be cow|mor, got {mode!r}")
        if mode == "mor":
            return self._mor_delete_commit(
                predicates=predicates, key_file=None, key_cols=None)
        drop = F.coalesce(filestats.predicate_column(predicates), F.lit(False))

        def plan() -> _Rewrite | dict:
            snap = self._require_snapshot()
            affected, untouched = filestats.affected_dirs(
                snap["data_dirs"], predicates)
            if not affected:  # provably nothing to delete
                return {**snap, "dirs_rewritten": 0,
                        "dirs_untouched": len(untouched), "rows_deleted": 0}
            return _Rewrite(snap, affected, untouched,
                            lambda live: live.filter(~drop),
                            lambda live_n, n: {"rows_deleted": live_n - n})

        return self._rewrite(spark, "delete", plan)

    def update_where(self, spark: SparkSession, predicates: list[tuple],
                     assignments: dict) -> dict:
        """Copy-on-write UPDATE with the same dir-level stats pruning
        as delete_where: rows matching the conjunctive `predicates`
        get `assignments` applied ({col: Column-expr-or-literal};
        exprs see PRE-update values, SQL UPDATE semantics); provably
        -unaffected dirs carry into the new snapshot untouched. Rows
        whose predicate is NULL are NOT updated. Assigned values are
        cast to the column's declared type — the table schema never
        drifts. Commits op='update' (concurrent append ⇒ recompute
        from new CURRENT). Returns the snapshot + `dirs_rewritten` /
        `dirs_untouched` / `rows_updated`."""
        pred = F.coalesce(filestats.predicate_column(predicates), F.lit(False))
        sets = {c: v if isinstance(v, Column) else F.lit(v)
                for c, v in assignments.items()}

        def plan() -> _Rewrite | dict:
            snap = self._require_snapshot()
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            unknown = set(sets) - set(schema.names)
            if unknown:
                raise ValueError(
                    f"update_where: unknown column(s) {sorted(unknown)}; "
                    f"table {self.name} has {sorted(schema.names)}")
            affected, untouched = filestats.affected_dirs(
                snap["data_dirs"], predicates)
            if not affected:  # provably nothing to update
                return {**snap, "dirs_rewritten": 0,
                        "dirs_untouched": len(untouched), "rows_updated": 0}
            matched = Observation()

            def transform(live: DataFrame) -> DataFrame:
                # matched-row count rides the write job (no extra pass)
                live = live.observe(matched, F.sum(pred.cast("bigint")).alias("n"))
                return live.select(*[
                    F.when(pred, sets[f.name].cast(f.dataType))
                    .otherwise(F.col(f.name)).alias(f.name)
                    if f.name in sets else F.col(f.name)
                    for f in schema.fields])

            return _Rewrite(snap, affected, untouched, transform,
                            lambda live_n, n: {"rows_updated": int(matched.get["n"] or 0)})

        return self._rewrite(spark, "update", plan)

    def remove_orphan_files(self, older_than_sec: float = 3600.0) -> dict:
        """GC data dirs not referenced by ANY live snapshot (the
        remove_orphan_files maintenance op): crashed writers leave
        fully-written `_s=` dirs whose commit never advanced CURRENT,
        and aborted rewrites can leave staging dirs. Only dirs older
        than `older_than_sec` are removed — an IN-FLIGHT writer's dir
        is never collected (default 1 h dwarfs any commit window).
        Never touches referenced dirs; returns counts."""
        live: set[str] = set()
        for s in self.snapshots():
            live.update(os.path.basename(d) for d in s["data_dirs"])
        removed = kept_young = 0
        now = time.time()
        if os.path.isdir(self.data):
            for name in os.listdir(self.data):
                full = os.path.join(self.data, name)
                if not name.startswith("_s=") or not os.path.isdir(full):
                    continue
                if name in live:
                    continue
                # Age by the NEWEST mtime anywhere in the dir tree, not the
                # top-level dir: a partitioned parquet write touches only
                # subdirs/files after the initial mkdir, so a long-running
                # in-flight writer's top-level mtime can be arbitrarily
                # stale while the write is still making progress.
                newest = os.path.getmtime(full)
                for root, _dirs, files in os.walk(full):
                    for entry in files:
                        try:
                            m = os.path.getmtime(os.path.join(root, entry))
                        except OSError:
                            continue
                        if m > newest:
                            newest = m
                    try:
                        m = os.path.getmtime(root)
                    except OSError:
                        continue
                    if m > newest:
                        newest = m
                if now - newest < older_than_sec:
                    kept_young += 1
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        # equality-delete key files (delete_keys) referenced by NO live
        # snapshot — a writer that crashed between writing the key
        # parquet and committing leaves one behind; same dwell rule
        live_kf = {os.path.basename(e["key_file"].rstrip("/"))
                   for s in self.snapshots()
                   for e in s.get("deletes") or [] if e.get("key_file")}
        kdir = os.path.join(self.path, "_deletes")
        if os.path.isdir(kdir):
            for name in os.listdir(kdir):
                full = os.path.join(kdir, name)
                if name in live_kf or not os.path.isdir(full):
                    continue
                newest = os.path.getmtime(full)
                for root, _dirs, files in os.walk(full):
                    for entry in files:
                        try:
                            m = os.path.getmtime(os.path.join(root, entry))
                        except OSError:
                            continue
                        if m > newest:
                            newest = m
                if now - newest < older_than_sec:
                    kept_young += 1
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return {"orphans_removed": removed, "orphans_too_young": kept_young}

    # -- read ----------------------------------------------------------
    def _scan_dirs(self, spark: SparkSession, dirs: list[str],
                   keep_s: bool = False) -> DataFrame:
        """ONE partitioned parquet relation over the given data dirs —
        plan depth stays flat no matter how many snapshots contribute
        (manifest-file planning: the snapshot's cumulative dir list IS
        the manifest). Dirs are named `_s=<uuid>`, so with
        basePath=data/ partition discovery sees uniform (_s[, _p])
        levels: `_p` pruning works across every snapshot in one scan,
        `_s` is dropped below (kept when merge-on-read delete masks
        need to scope rows to the dirs a delete applies to).
        mergeSchema resolves evolution (missing columns → null).
        Fallback to per-dir unionByName covers legacy layouts / mixed
        partition depths."""
        try:
            df = (
                spark.read.option("mergeSchema", "true")
                .option("basePath", self.data)
                .parquet(*dirs)
            )
            if "_s" in df.columns and not keep_s:
                df = df.drop("_s")
        except Exception:
            parts = []
            for d in dirs:
                p = spark.read.option("mergeSchema", "true") \
                    .option("basePath", d).parquet(d)
                if keep_s and "_s" not in p.columns:
                    base = os.path.basename(d.rstrip("/"))
                    sval = base.split("=", 1)[1] if "=" in base else base
                    p = p.withColumn("_s", F.lit(sval))
                parts.append(p)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
        return df

    def _live_rows(self, spark: SparkSession, dirs: list[str],
                   deletes: list[dict], schema: T.StructType,
                   part_filter: Column | None = None) -> DataFrame:
        """Live rows of `dirs` under the merge-on-read masks `deletes`,
        projected to `schema`. `part_filter` is a predicate on the
        hidden `_p` partition column, applied before projection drops
        it."""
        df = self._scan_dirs(spark, dirs, keep_s=bool(deletes))
        if part_filter is not None:
            df = df.filter(part_filter)
        if deletes:
            df = self._apply_delete_masks(spark, df, deletes)
        return self._project(df, schema)

    @staticmethod
    def _project(df: DataFrame, schema: T.StructType) -> DataFrame:
        """`df` as the evolved table `schema`: columns by name, cast to
        the recorded type; a column the files lack reads as null,
        extra file columns (`_p`, `_s`, dropped fields) go."""
        return df.select(*[
            F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])

    @staticmethod
    def _dir_sval(d: str) -> str:
        """The `_s` partition VALUE for a data dir path (`_s=<uuid>` →
        `<uuid>`) — the unit merge-on-read deletes are scoped by."""
        base = os.path.basename(d.rstrip("/"))
        return base.split("=", 1)[1] if "=" in base else base

    def _apply_delete_masks(self, spark: SparkSession, df: DataFrame,
                            deletes: list[dict]) -> DataFrame:
        """Apply pending merge-on-read delete entries to a scan that
        still carries the `_s` column. Each entry masks rows ONLY in
        the dirs it applied to at commit time (`applies_to`) — rows
        appended after the delete are untouched, the dir-granular
        version of Iceberg v2 sequence-number scoping. SQL DELETE
        semantics: NULL predicate / NULL key = row kept."""
        for ent in deletes:
            df, masked = self._masked_by(spark, df, ent)
            df = df.filter(~masked).drop("_kdel")
        return df

    @staticmethod
    def _masked_by(spark: SparkSession, df: DataFrame,
                   ent: dict) -> tuple[DataFrame, Column]:
        """`df` (carrying `_s`) prepared for one merge-on-read entry,
        and the column that is true for the rows the entry masks. A
        key-file entry left-joins its keys as `_kdel`."""
        applies = F.col("_s").isin(list(ent["applies_to"]))
        if ent.get("key_file"):
            keys = (spark.read.parquet(ent["key_file"])
                    .select(*ent["key_cols"]).distinct()
                    .withColumn("_kdel", F.lit(1)))
            return (df.join(F.broadcast(keys), list(ent["key_cols"]), "left"),
                    applies & F.col("_kdel").isNotNull())
        pred = filestats.predicate_column(ent["predicates"])
        return df, applies & F.coalesce(pred, F.lit(False))

    def snapshot(self, snapshot_id: int) -> dict:
        """Load one snapshot's metadata by id (FileNotFoundError if it
        was expired or rolled back)."""
        snap = self.store.read_snap(snapshot_id)
        if snap is None:
            raise FileNotFoundError(
                f"table {self.name}: no snapshot {snapshot_id}"
            )
        return snap

    def changes_between(self, after_snapshot_id: int | None,
                        to_snapshot_id: int | None = None) -> list[dict]:
        """Snapshots strictly after `after_snapshot_id` up to and
        including `to_snapshot_id` (default CURRENT), oldest first.
        `after_snapshot_id=None` means "since table creation" (the
        whole chain).

        Walks the PARENT CHAIN, not the id sequence — rolled-back
        snapshots are deleted and must not appear, and ids written by
        losing writers never enter the chain. Raises
        IncrementalReadError if `after_snapshot_id` is not an ancestor
        of the target (e.g. it was rolled back or expired)."""
        if to_snapshot_id is None:
            cur = self._current_id()
            if cur is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            to_snapshot_id = cur
        chain: list[dict] = []
        sid: int | None = to_snapshot_id
        while sid is not None and sid != after_snapshot_id:
            try:
                snap = self.snapshot(sid)
            except FileNotFoundError:
                raise IncrementalReadError(
                    f"table {self.name}: snapshot {sid} missing while walking "
                    f"{to_snapshot_id}→{after_snapshot_id} (expired or rolled back)"
                )
            chain.append(snap)
            sid = snap["parent"]
        if sid != after_snapshot_id:
            raise IncrementalReadError(
                f"table {self.name}: snapshot {after_snapshot_id} is not an "
                f"ancestor of {to_snapshot_id}"
            )
        chain.reverse()
        return chain

    def read_changelog(
        self,
        spark: SparkSession,
        after_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between snapshots (the Iceberg CDC
        changelog scan): every table row gains `_change_type`
        ('insert' | 'delete') and `_commit_snapshot_id`. Appends emit
        their new dirs' rows as inserts; merge-on-read deletes emit
        the rows they masked as deletes (recomputed by applying the
        recorded predicate / key file to the pre-delete data, with
        EARLIER masks applied first so a row deletes at most once).
        Copy-on-write rewrites (delete/update/compact/overwrite/merge)
        raise IncrementalReadError — a rewrite is not
        row-attributable without a diff; the consumer falls back to a
        full recompute, exactly like read_incremental. This is how a
        downstream incremental consumer stays correct once the
        erasure queue (delete_keys) is in play: inserts maintain the
        aggregate forward, deletes retract."""
        chain = self.changes_between(after_snapshot_id, to_snapshot_id)
        to_snap = chain[-1] if chain else (
            self.snapshot(to_snapshot_id) if to_snapshot_id is not None
            else self.current_snapshot())
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType(), False),
               T.StructField("_commit_snapshot_id", T.LongType(), False)])
        if not chain:
            return spark.createDataFrame([], out_schema)
        bad = [s for s in chain
               if s["op"] not in ("append", "mor_delete")]
        if bad:
            raise IncrementalReadError(
                f"table {self.name}: non-attributable rewrite in range: "
                + ", ".join(f"{s['snapshot_id']}={s['op']}" for s in bad))
        if after_snapshot_id is not None:
            try:
                parent0 = self.snapshot(after_snapshot_id)
            except FileNotFoundError as e:
                raise IncrementalReadError(
                    f"table {self.name}: checkpoint snapshot "
                    f"{after_snapshot_id} expired") from e
            prev_dirs = list(parent0["data_dirs"])
            prev_dels = list(parent0.get("deletes") or [])
        else:
            prev_dirs, prev_dels = [], []

        def project(df, change, sid):
            return self._project(df, schema) \
                .withColumn("_change_type", F.lit(change)) \
                .withColumn("_commit_snapshot_id",
                            F.lit(sid).cast("long"))

        parts: list[DataFrame] = []
        for snap in chain:
            sid = snap["snapshot_id"]
            if snap["op"] == "append":
                new_dirs = [d for d in snap["data_dirs"]
                            if d not in prev_dirs]
                if new_dirs:
                    parts.append(project(self._scan_dirs(spark, new_dirs),
                                         "insert", sid))
            else:  # mor_delete: emit the newly-masked rows as deletes
                prior_ids = {e["id"] for e in prev_dels}
                own = [e for e in snap.get("deletes") or []
                       if e["id"] not in prior_ids]
                for ent in own:
                    dirs = [d for d in snap["data_dirs"]
                            if self._dir_sval(d) in set(ent["applies_to"])]
                    if not dirs:
                        continue
                    df = self._scan_dirs(spark, dirs, keep_s=True)
                    if prev_dels:
                        # rows already masked before this commit never
                        # re-delete
                        df = self._apply_delete_masks(spark, df, prev_dels)
                    df, masked = self._masked_by(spark, df, ent)
                    parts.append(project(df.filter(masked), "delete", sid))
            prev_dirs = list(snap["data_dirs"])
            prev_dels = list(snap.get("deletes") or [])
        if not parts:
            return spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot_diff(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Content-level diff between ANY two snapshots — the
        audit-grade fallback when read_changelog raises on a
        copy-on-write rewrite (the `process(None, ...)` resync path of
        streaming.follow): rows in `to` but not `from` come back as
        _change_type='insert', rows in `from` but not `to` as
        'delete' (bag semantics — exceptAll both ways, duplicates
        diffed by multiplicity). from_snapshot_id=None diffs against
        the empty table.

        Cost model: this is a full content comparison — one shuffle of
        BOTH snapshots on all columns. Correct for any operation
        history, priced accordingly; the changelog scan is the cheap
        path and this is the recovery path. Columns are projected to
        `to`'s schema (evolution-safe)."""
        to_snap = (self.snapshot(to_snapshot_id) if to_snapshot_id is not None
                   else self.current_snapshot())
        if to_snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        new = self.read(spark, snapshot_id=to_snap["snapshot_id"])
        if from_snapshot_id is None:
            old = spark.createDataFrame([], schema)
        else:
            old = self.read(spark, snapshot_id=from_snapshot_id)
        old = self._project(old, schema)
        ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    def read_incremental(
        self,
        spark: SparkSession,
        after_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows APPENDED after `after_snapshot_id` up to
        `to_snapshot_id` (default CURRENT) — the Iceberg incremental
        append scan. This is the 100 TB resume path for downstream
        consumers: an aggregator that checkpoints the last snapshot id
        it processed scans only the new `_s=` dirs instead of
        re-reading the whole table (reference analogue: swarm's
        enqueue/resume loop re-lists only new objects,
        /root/reference/pkg/usecase/enqueue.go).

        Every snapshot in the range must be an `append` — a rewrite
        (overwrite/merge/compact) in the range raises
        IncrementalReadError and the consumer must fall back to a full
        recompute from the new snapshot. Empty appends contribute
        nothing. The result is projected to the `to` snapshot's schema
        (columns added after a dir was written read as null)."""
        chain = self.changes_between(after_snapshot_id, to_snapshot_id)
        if not chain:
            to = self.snapshot(to_snapshot_id) if to_snapshot_id is not None \
                else self.current_snapshot()
            schema = T.StructType.fromJson(json.loads(to["schema"]))
            return spark.createDataFrame([], schema)
        bad = [s for s in chain if s["op"] != "append"]
        if bad:
            raise IncrementalReadError(
                f"table {self.name}: non-append snapshot(s) in range: "
                + ", ".join(f"{s['snapshot_id']}={s['op']}" for s in bad)
            )
        if after_snapshot_id is not None:
            # The checkpoint snapshot itself may have been expired even when
            # every LATER snapshot in the walk is live (keep_last boundary) —
            # that is still "cannot read incrementally", not a crash.
            try:
                base = set(self.snapshot(after_snapshot_id)["data_dirs"])
            except FileNotFoundError as e:
                raise IncrementalReadError(
                    f"table {self.name}: checkpoint snapshot "
                    f"{after_snapshot_id} expired — full recompute required"
                ) from e
        else:
            base = set()
        to_snap = chain[-1]
        new_dirs = [d for d in to_snap["data_dirs"] if d not in base]
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        if not new_dirs:
            return spark.createDataFrame([], schema)
        return self._live_rows(spark, new_dirs, [], schema)

    def build_blooms(self, spark: SparkSession, cols: list[str],
                     m_bytes: int = 32 * 1024, k: int = 6,
                     overwrite: bool = False) -> dict:
        """Build per-file bloom filters for `cols` on every CURRENT
        data dir that lacks them (blooms.collect_dir_blooms — one
        distributed hash job per dir). Makes read(prune=[(col,'=',v)])
        a needle-in-haystack point read on UNCLUSTERED high-cardinality
        keys, where min/max stats cannot prune (every file's range
        spans the key space). Idempotent per dir; new dirs from later
        appends/rewrites simply don't prune until the next build — a
        maintenance action, like compaction (maintain.py
        --bloom-cols). A real deployment computes these in the write
        tasks and commits them with the manifest (Iceberg puffin);
        building post-hoc is the local-fs analogue, priced at one scan
        of the dirs that lack blooms."""
        from concurrent.futures import ThreadPoolExecutor

        from swarm_spark import blooms as _blooms

        snap = self._require_snapshot()
        todo = []
        skipped = 0
        for d in snap["data_dirs"]:
            if not overwrite and _blooms.load_dir_blooms(d) is not None:
                skipped += 1
            else:
                todo.append(d)
        built = 0
        if todo:
            # per-dir jobs are independent — submit them concurrently so
            # one dir's job tail back-fills the others' idle executors
            # (guide §2.6); each writes only its own sidecar.
            with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
                outs = list(pool.map(
                    lambda d: _blooms.collect_dir_blooms(
                        spark, d, cols, m_bytes=m_bytes, k=k,
                        overwrite=overwrite),
                    todo))
            built = sum(1 for o in outs if o is not None)
        return {"dirs_built": built, "dirs_already": skipped,
                "dirs_total": len(snap["data_dirs"])}

    def count_where(self, spark: SparkSession,
                    predicates: list[tuple] | None = None,
                    report: bool = False) -> int | dict:
        """Exact COUNT(*) [WHERE conjunctive predicates] answered from
        metadata wherever the stats allow — Iceberg's manifest-count
        pushdown. Per file: every conjunct DEFINITELY matches every row
        (filestats._definitely_matches — dual of the pruning test) →
        contribute `rows` without opening the file; some conjunct
        impossible → contribute 0; otherwise the file is a BOUNDARY
        file and lands in one residual Spark count. On a
        time/cluster-organized 100 TB table a range count is pure
        metadata plus the two boundary files — the difference between
        answering monitoring queries from the driver and scheduling a
        full scan.

        No predicates and no pending delete masks → the maintained
        snapshot row_count (O(1)). Pending merge-on-read masks make
        per-file metadata counting unsound (masked rows are invisible
        to footers), so the whole count falls back to the masked read
        — correct first, fast when the table allows it."""
        snap = self._require_snapshot()
        if snap.get("deletes"):
            n = self.read(spark, prune=predicates).count()
            return {"count": n, "meta_rows": 0, "residual_files": -1,
                    "mode": "masked_fallback"} if report else n
        if not predicates:
            n = snap.get("row_count", 0)
            return {"count": n, "meta_rows": n, "residual_files": 0,
                    "mode": "snapshot"} if report else n
        meta_rows, residual, total, decided = filestats.count_plan(
            snap["data_dirs"], predicates)
        scanned = 0
        if residual and any(os.path.isdir(p) for p in residual):
            # A stats-less dir in the residual list cannot be read
            # together with leaf FILES of partitioned dirs (Spark's
            # conflicting-directory-structure error, and the flat read
            # would drop `_p`). Correct first: answer through the
            # normal pruned read + row filter (r5-advice fix).
            n = self.read(spark, prune=predicates).filter(
                F.coalesce(filestats.predicate_column(predicates),
                           F.lit(False))).count()
            return {"count": n, "meta_rows": 0,
                    "residual_files": len(residual), "files_total": total,
                    "files_decided": decided,
                    "mode": "statless_dir_fallback"} if report else n
        if residual:
            df = spark.read.option("mergeSchema", "true").parquet(*residual)
            # schema evolution: residual files may all predate a
            # predicate column — fill it with NULL (read() semantics),
            # so the predicate evaluates instead of failing to resolve
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            types = {f.name: f.dataType for f in schema.fields}
            for p in predicates:
                if p[0] not in df.columns and p[0] in types:
                    df = df.withColumn(p[0], F.lit(None).cast(types[p[0]]))
            scanned = df.filter(
                F.coalesce(filestats.predicate_column(predicates),
                           F.lit(False))).count()
        n = meta_rows + scanned
        if report:
            return {"count": n, "meta_rows": meta_rows,
                    "residual_files": len(residual),
                    "files_total": total, "files_decided": decided,
                    "mode": "metadata+residual"}
        return n

    def prune_report(self, predicates: list[tuple],
                     snapshot_id: int | None = None) -> dict:
        """Dry-run of file skipping for a conjunctive predicate:
        {files_total, files_kept, dirs_without_stats} — observability
        for tests/bench without building a DataFrame."""
        snap = (self.snapshot(snapshot_id) if snapshot_id is not None
                else self.current_snapshot())
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        paths, total, kept = filestats.prune_files(snap["data_dirs"], predicates)
        no_stats = sum(1 for p in paths if os.path.isdir(p))
        return {"files_total": total, "files_kept": kept,
                "dirs_without_stats": no_stats}

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        ts_between: tuple[str, str] | None = None,
        prune: list[tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read the table at CURRENT (or time-travel to snapshot_id,
        or to a named tag — see create_tag).
        ts_between=(lo_iso, hi_iso) prunes hive partitions before the
        scan when the table has a time partition transform.

        prune=[(col, op, value), ...] (ops: = < <= > >= in
        isnull notnull; conjunctive) returns EXACTLY
        read().filter(<conjuncts>) but skips data files whose
        footer-derived column bounds prove they cannot match (Iceberg
        manifest-stats file skipping — see swarm_spark/filestats.py).
        Timestamp literals: datetime (naive = UTC) or ISO string.
        Files from dirs without a stats sidecar are always scanned."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR tag, not both")
            snapshot_id = self.store.get_tag(tag)
            if snapshot_id is None:
                raise FileNotFoundError(f"table {self.name}: no tag {tag!r}")
        if snapshot_id is not None:
            snap = self.snapshot(snapshot_id)
        else:
            snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        if not snap["data_dirs"]:  # empty-append-only table
            df = spark.createDataFrame([], schema)
            return filestats.residual_filter(df, prune) if prune else df
        scan = snap["data_dirs"]
        if prune:
            scan, _total, _kept = filestats.prune_files(scan, prune)
            if not scan:  # every file provably excluded
                df = spark.createDataFrame([], schema)
                return filestats.residual_filter(df, prune)
        unit, part = snap.get("partition_unit"), None
        if unit and ts_between:
            import datetime as _dt

            lo, hi = (_dt.datetime.fromisoformat(t).strftime(_PY_PART_FMT[unit])
                      for t in ts_between)
            part = (F.col("_p") >= lo) & (F.col("_p") <= hi)
        out = self._live_rows(spark, scan, snap.get("deletes") or [], schema, part)
        # residual filter: skipping is a scan optimization, the
        # predicate still applies row-by-row (files that survive on
        # bounds may hold non-matching rows)
        return filestats.residual_filter(out, prune) if prune else out


class IcepackCatalog:
    """Directory-of-tables catalog ≙ a BigQuery dataset / Iceberg namespace.

    `store_factory(meta_dir) -> store` selects the snapshot-metadata
    backend per table (metastore.py): None = PosixMetaStore (local fs);
    pass `CASMetaStore.for_dir` to run every table's commit protocol on
    conditional-put object-store semantics."""

    supports_adopt = True  # adopt_dir available → single-pass write OK

    def __init__(self, root: str, store_factory=None):
        self.root = root
        self.store_factory = store_factory
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> IcepackTable:
        store = None
        if self.store_factory is not None:
            store = self.store_factory(os.path.join(self.root, name, "_meta"))
        return IcepackTable(self.root, name, store=store)

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_meta"))
        )
