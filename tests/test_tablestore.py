"""icepack tablestore: atomic commits, schema evolution, partition
transforms, time travel (SURVEY.md §2.7-2.8 semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from swarm_spark.tablestore import IcepackCatalog, SchemaConflictError, merge_schemas


class TestMergeSchemas:
    def s(self, ddl):
        # _parse_datatype_string needs an active session (spark fixture)
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(ddl)

    def test_union_order_preserved_new_appended(self, spark):
        # migrate_test.go:77-113: {name,address} + {name,age} → [name,address,age]
        old = self.s("name string, address string")
        new = self.s("name string, age bigint")
        merged = merge_schemas(old, new)
        assert [f.name for f in merged.fields] == ["name", "address", "age"]

    def test_type_conflict_errors(self, spark):
        # migrate_test.go:115-132: age:int vs age:string → error
        old = self.s("age bigint")
        new = self.s("age string")
        with pytest.raises(SchemaConflictError):
            merge_schemas(old, new)

    def test_nested_struct_merge(self, spark):
        old = self.s("d struct<a:string>")
        new = self.s("d struct<b:bigint>")
        merged = merge_schemas(old, new)
        inner = merged.fields[0].dataType
        assert [f.name for f in inner.fields] == ["a", "b"]

    def test_identical_noop(self, spark):
        old = self.s("a string, b bigint")
        assert merge_schemas(old, old) == T.StructType(
            [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
        )


class TestIcepackTable:
    def test_append_evolve_read(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t1")
        t.append(spark.createDataFrame([(1, "x")], "a bigint, b string"))
        t.append(spark.createDataFrame([(2, "y", 9.5)], "a bigint, b string, c double"))
        df = t.read(spark).orderBy("a").toPandas()
        assert list(df.columns) == ["a", "b", "c"]
        assert df.c.isna().tolist() == [True, False]  # evolved col null-backfilled
        assert t.current_snapshot()["row_count"] == 2

    def test_type_conflict_rejected(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t2")
        t.append(spark.createDataFrame([(1,)], "a bigint"))
        with pytest.raises(SchemaConflictError):
            t.append(spark.createDataFrame([("s",)], "a string"))
        # failed append must not corrupt the table
        assert t.read(spark).count() == 1

    def test_time_travel(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t3")
        s1 = t.append(spark.createDataFrame([(1,)], "a bigint"))
        t.append(spark.createDataFrame([(2,)], "a bigint"))
        assert t.read(spark).count() == 2
        assert t.read(spark, snapshot_id=s1["snapshot_id"]).count() == 1
        lineage = [s["parent"] for s in t.snapshots()]
        assert lineage == [None, 1]

    def test_overwrite(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t4")
        t.append(spark.createDataFrame([(1,)], "a bigint"))
        t.overwrite(spark.createDataFrame([(7,), (8,)], "a bigint"))
        assert sorted(r.a for r in t.read(spark).collect()) == [7, 8]

    def test_partition_pruning(self, spark, tmp_path):
        import datetime as dt

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t5")
        rows = [(i, dt.datetime(2026, 1, 1 + i)) for i in range(5)]
        t.append(
            spark.createDataFrame(rows, "a bigint, timestamp timestamp"),
            partition_unit="day",
        )
        pruned = t.read(spark, ts_between=("2026-01-02", "2026-01-03"))
        assert pruned.count() == 2
        assert t.read(spark).count() == 5
        # pruning is physical: the _p predicate lands in the scan's
        # PartitionFilters (file listing), not a post-scan Filter
        from swarm_spark.plans.skew import physical_plan

        plan = physical_plan(pruned)
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and any("_p" in ln for ln in pf), plan

    def test_atomicity_visible_only_after_commit(self, spark, tmp_path):
        import os

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("t6")
        t.append(spark.createDataFrame([(1,)], "a bigint"))
        # simulate a torn write: data dir exists but no snapshot points at it
        orphan = os.path.join(t.data, "s-orphan")
        os.makedirs(orphan)
        spark.createDataFrame([(99,)], "a bigint").write.parquet(orphan, mode="overwrite")
        assert t.read(spark).count() == 1  # orphan invisible


class TestAppendRows:
    """Driver-side row appends (the audit rows): pyarrow-written files
    adopted as a snapshot, with no Spark job."""

    @staticmethod
    def _utc(*a):
        import datetime as dt

        return dt.datetime(*a, tzinfo=dt.timezone.utc)

    def test_rows_join_audit_tables_written_by_spark(self, spark, tmp_path):
        """Warehouses whose audit tables hold rows from the former
        createDataFrame + append path accept a row append: the
        recorded schemas match exactly (nested nullability included),
        so merge_schemas raises no SchemaConflictError."""
        from pyspark.sql import functions as F

        from swarm_spark.pipeline import AUDIT_SCHEMA
        from swarm_spark.pipeline_json import JSON_AUDIT_SCHEMA

        cat = IcepackCatalog(str(tmp_path))
        cases = [
            ("_audit", AUDIT_SCHEMA,
             "request_id string, batch_id string, success boolean, error string, "
             "input_rows bigint, routed_rows bigint, elapsed_sec double, "
             "ingests array<struct<sink:string,log_count:bigint,"
             "snapshot_id:bigint,success:boolean>>",
             ("old", "b1", True, None, 5, 4, 1.5, [("s", 4, 1, True)]),
             ("new", "b2", True, None, 6, 3, 0.5, [("s", 3, 2, True)])),
            ("_audit_json", JSON_AUDIT_SCHEMA,
             "request_id string, batch_id string, success boolean, error string, "
             "table_schemas string, log_counts string",
             ("old", "b1", True, None, "{}", '{"s": 4}'),
             ("new", "b2", True, None, "{}", '{"s": 3}')),
        ]
        for name, schema, ddl, old, new in cases:
            t = cat.table(name)
            t.append(spark.createDataFrame([old], ddl)
                     .withColumn("started_at", F.current_timestamp()),
                     partition_unit="month", ts_col="started_at")
            assert t.schema() == schema
            snap = t.append_rows([new + (self._utc(2026, 3, 1),)], schema,
                                 partition_unit="month", ts_col="started_at")
            assert snap["added_rows"] == 1
            got = {r.request_id: r for r in t.read(spark).collect()}
            assert set(got) == {"old", "new"}
            assert got["new"].batch_id == "b2" and got["old"].batch_id == "b1"
            if name == "_audit":
                assert got["new"].ingests[0].log_count == 3
                assert got["old"].ingests[0].log_count == 4

    @pytest.mark.parametrize("zone", ["Asia/Tokyo", "+09:00"])
    def test_partition_follows_session_time_zone(self, spark, tmp_path, zone):
        """_p is computed where date_format computes it: in the session
        time zone (a region id or a fixed offset), so 23:30Z on Jan 31
        lands in February in Tokyo; the instant itself reads back
        unchanged."""
        import os

        from pyspark.sql import functions as F

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("tz")
        schema = T.StructType([T.StructField("a", T.LongType()),
                               T.StructField("ts", T.TimestampType())])
        ts = self._utc(2026, 1, 31, 23, 30)
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", zone)
        try:
            snap = t.append_rows([(1, ts)], schema, partition_unit="month", ts_col="ts")
            want = spark.range(1).select(
                F.date_format(F.lit(ts), "yyyy-MM")).first()[0]
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        assert want == "2026-02"
        (ddir,) = snap["data_dirs"]
        assert sorted(os.listdir(ddir)) == ["_p=2026-02", "_stats.json"]
        row = t.read(spark).select("a", F.unix_micros("ts").alias("us")).first()
        assert row.a == 1 and row.us == int(ts.timestamp()) * 1_000_000

    def test_adopted_dir_has_stats_sidecar(self, spark, tmp_path):
        from swarm_spark import filestats

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("stats")
        schema = T.StructType([T.StructField("a", T.LongType()),
                               T.StructField("ts", T.TimestampType())])
        snap = t.append_rows([(3, self._utc(2026, 1, 1)), (7, self._utc(2026, 2, 1))],
                             schema, partition_unit="month", ts_col="ts")
        (ddir,) = snap["data_dirs"]
        st = filestats.load_dir_stats(ddir)
        assert st is not None and len(st["files"]) == 2
        assert sum(f["rows"] for f in st["files"].values()) == 2
        assert t.read(spark).count() == 2


class TestManifestPlanning:
    def test_many_snapshots_flat_plan(self, spark, tmp_path):
        """50 appends: read() must stay ONE parquet relation (no Union
        tower — plan depth flat in snapshot count) with unchanged
        results and working time travel."""
        from swarm_spark.plans.skew import physical_plan
        from swarm_spark.tablestore import IcepackCatalog

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("many")
        for i in range(50):
            t.append(spark.createDataFrame([(i,)], "v int"))
        df = t.read(spark)
        plan = physical_plan(df)
        assert "Union" not in plan, plan[:2000]
        # formatted explain names each node twice (tree + detail):
        # exactly one scan node → exactly two mentions
        assert plan.count("Scan parquet") == 2
        assert sorted(r.v for r in df.collect()) == list(range(50))
        assert t.current_snapshot()["row_count"] == 50
        # time travel to snapshot 10 → first 10 rows only
        old = t.read(spark, snapshot_id=10)
        assert sorted(r.v for r in old.collect()) == list(range(10))

    def test_flat_plan_with_evolution_and_partitions(self, spark, tmp_path):
        import datetime as dt

        from swarm_spark.plans.skew import physical_plan
        from swarm_spark.tablestore import IcepackCatalog

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("evo")
        ts = dt.datetime(2026, 1, 1, 10)
        t.append(spark.createDataFrame([(1, ts)], "a int, timestamp timestamp"),
                 partition_unit="hour")
        t.append(spark.createDataFrame(
            [(2, ts + dt.timedelta(hours=1), "x")],
            "a int, timestamp timestamp, b string"))
        df = t.read(spark)
        plan = physical_plan(df)
        assert plan.count("Scan parquet") == 2 and "Union" not in plan
        rows = {r.a: r.b for r in df.collect()}
        assert rows == {1: None, 2: "x"}  # evolution: missing col → null
        # partition pruning still applies across multi-dir read
        pruned = t.read(spark, ts_between=("2026-01-01T11:00", "2026-01-01T12:00"))
        assert [r.a for r in pruned.collect()] == [2]


class TestTags:
    def test_tag_reads_forever(self, spark, tmp_path):
        """A tag pins what a training run read: later appends, mor
        deletes, and even aggressive snapshot expiry cannot change or
        break `read(tag=...)`."""
        import pytest as _pt

        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("rel")
        t.append(spark.createDataFrame([(1,), (2,)], "a bigint"))
        t.create_tag("train-v1")
        t.append(spark.createDataFrame([(3,)], "a bigint"))
        t.delete_where(spark, [("a", "=", 1)], mode="mor")
        for _ in range(3):
            t.append(spark.createDataFrame([(9,)], "a bigint"))
        rep = t.expire_snapshots(keep_last=1)
        assert rep["expired"] >= 3
        # the tagged snapshot and its files survived the expiry
        got = sorted(r["a"] for r in t.read(spark, tag="train-v1").collect())
        assert got == [1, 2]
        assert t.tags() == {"train-v1": 1}
        # dropping the tag makes it expirable again
        t.drop_tag("train-v1")
        t.expire_snapshots(keep_last=1)
        with _pt.raises(FileNotFoundError):
            t.read(spark, tag="train-v1")

    def test_tag_validation(self, spark, tmp_path):
        import pytest as _pt

        t = IcepackCatalog(str(tmp_path)).table("v")
        with _pt.raises(FileNotFoundError):
            t.create_tag("x")  # no snapshots yet
        t.append(spark.createDataFrame([(1,)], "a bigint"))
        with _pt.raises(FileNotFoundError):
            t.create_tag("x", snapshot_id=99)
        t.create_tag("x")
        with _pt.raises(ValueError, match="not both"):
            t.read(spark, snapshot_id=1, tag="x")


class TestPartitionRespec:
    def test_compact_changes_time_transform(self, spark, tmp_path):
        """Partition evolution as an explicit rewrite: compact with a
        new partition_unit respecs the table — the rewrite and FUTURE
        appends use the new transform, ts_between pruning works on the
        new layout, and time travel to the old layout still reads."""
        import datetime as dt
        import os

        t = IcepackCatalog(str(tmp_path)).table("resp")
        rows = [(i, dt.datetime(2026, 1, 1 + i // 4, i % 4)) for i in range(8)]
        t.append(spark.createDataFrame(rows, "k int, timestamp timestamp"),
                 partition_unit="hour")
        pre = t.current_snapshot()["snapshot_id"]
        t.compact(spark, partition_unit="day")
        assert t.current_snapshot()["partition_unit"] == "day"
        # new layout: _p=yyyy-MM-dd dirs
        d = t.current_snapshot()["data_dirs"][0]
        parts = sorted(p for p in os.listdir(d) if p.startswith("_p="))
        assert parts == ["_p=2026-01-01", "_p=2026-01-02"]
        # future appends follow the new spec (sticky on the new unit)
        t.append(spark.createDataFrame(
            [(99, dt.datetime(2026, 1, 3))], "k int, timestamp timestamp"))
        got = t.read(spark, ts_between=("2026-01-02", "2026-01-03"))
        assert sorted(r["k"] for r in got.collect()) == [4, 5, 6, 7, 99]
        # time travel to the pre-respec snapshot still reads fully
        assert t.read(spark, snapshot_id=pre).count() == 8


class TestCopyOnWriteLoop:
    """The rewrite-and-commit loop shared by delete_where, update_where,
    merge_upsert and compact."""

    OPS = {
        "delete_where": (lambda t, s: t.delete_where(s, [("k", "=", 1)]),
                         "delete", {"rows_deleted": 1},
                         {(2, "old"), (99, "live")}),
        "update_where": (lambda t, s: t.update_where(s, [("k", "=", 1)], {"v": "new"}),
                         "update", {"rows_updated": 1},
                         {(1, "new"), (2, "old"), (99, "live")}),
        "merge_upsert": (lambda t, s: t.merge_upsert(
                             s, s.createDataFrame([(2, "new")], "k bigint, v string"), ["k"]),
                         "merge", {"rows_matched": 1, "rows_inserted": 0},
                         {(1, "old"), (2, "new"), (99, "live")}),
        "compact": (lambda t, s: t.compact(s), "compact", {},
                    {(1, "old"), (2, "old"), (99, "live")}),
    }

    @pytest.mark.parametrize("op", list(OPS))
    def test_retries_once_past_concurrent_append(self, spark, tmp_path, op):
        """An append landing between the rewrite's write and its commit
        aborts the commit: the stale dir goes, the op re-runs once from
        the new CURRENT, and the appended row survives."""
        run, snap_op, counters, rows = self.OPS[op]
        t = IcepackCatalog(str(tmp_path)).table("t")
        t.append(spark.createDataFrame([(1, "old"), (2, "old")], "k bigint, v string"))
        other = IcepackCatalog(str(tmp_path)).table("t")
        real_write = t._write_data
        writes = []

        def write_then_append(df, unit, ts_col, **kw):
            out = real_write(df, unit, ts_col, **kw)
            if not writes:  # sneak an append in mid-rewrite
                other.append(spark.createDataFrame([(99, "live")], "k bigint, v string"))
            writes.append(out)
            return out

        t._write_data = write_then_append
        snap = run(t, spark)
        assert len(writes) == 2  # exactly one retry
        assert snap["op"] == snap_op
        assert {k: snap[k] for k in counters} == counters
        assert {(r.k, r.v) for r in t.read(spark).collect()} == rows
        assert t.remove_orphan_files(older_than_sec=0)["orphans_removed"] == 0

    # Spark jobs per op on a 4x100-row day-partitioned table at local[4]
    # (AQE reports shuffle stages as separate jobs, so these are upper
    # bounds); a pending mor mask must not add a job.
    JOBS = {"delete_where": 3, "update_where": 3, "merge_upsert_2keys": 9,
            "merge_upsert_1key": 11, "compact": 3}

    @pytest.mark.parametrize("masked", [False, True], ids=["plain", "masked"])
    @pytest.mark.parametrize("op", list(JOBS))
    def test_job_count_pin(self, spark, tmp_path, op, masked):
        from pyspark.sql import functions as F

        t = IcepackCatalog(str(tmp_path)).table("t")
        for b in range(4):
            t.append(spark.range(b * 100, b * 100 + 100).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("g"),
                (F.lit(f"2024-01-0{b + 1} 00:00:00").cast("timestamp")
                 + F.make_interval(secs=F.col("id") % 60)).alias("ts")),
                partition_unit="day", ts_col="ts")
        if masked:
            t.delete_where(spark, [("k", "<", 5)], mode="mor")
        incoming = spark.createDataFrame([(10, 1), (250, 2)], "k bigint, g bigint")
        run = {
            "delete_where": lambda: t.delete_where(spark, [("k", "<", 50)]),
            "update_where": lambda: t.update_where(spark, [("k", "<", 50)], {"g": 99}),
            "merge_upsert_2keys": lambda: t.merge_upsert(spark, incoming, ["k", "g"]),
            "merge_upsert_1key": lambda: t.merge_upsert(spark, incoming, ["k"]),
            "compact": lambda: t.compact(spark),
        }[op]
        sc = spark.sparkContext
        group = f"pin-{op}-{masked}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n <= self.JOBS[op], f"{op} ran {n} Spark jobs"
