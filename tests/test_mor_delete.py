"""Merge-on-read DELETE (Iceberg v2's delete-file mechanism):
`delete_where(mode='mor')` records a dir-scoped predicate, read()
masks, compact()/cow DML folds; `delete_keys` is the equality-delete
file for erasure queues. Contract under test everywhere: a mor table
reads IDENTICALLY to the same table after a cow delete."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from swarm_spark.tablestore import IcepackCatalog


def _mk(spark, tmp_path, name="t"):
    t = IcepackCatalog(str(tmp_path)).table(name)
    for lo in (0, 100, 200, 300):
        t.append(spark.createDataFrame(
            [(lo + i, f"u{(lo + i) % 7}", float(i)) for i in range(100)],
            "k bigint, user string, v double").coalesce(1))
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestMorPredicateDelete:
    def test_read_masks_cow_equivalence(self, spark, tmp_path):
        """mor read ≡ cow read for the same predicate — no rewrite."""
        cow = _mk(spark, tmp_path, "cow")
        mor = _mk(spark, tmp_path, "mor")
        pred = [("k", ">=", 150), ("k", "<", 250)]
        before_dirs = list(mor.current_snapshot()["data_dirs"])
        cow.delete_where(spark, pred)
        snap = mor.delete_where(spark, pred, mode="mor")
        assert snap["op"] == "mor_delete" and snap["mode"] == "mor"
        assert snap["data_dirs"] == before_dirs  # ZERO data rewritten
        assert snap["dirs_affected"] == 2  # outer quartiles stat-pruned
        assert _rows(mor.read(spark)) == _rows(cow.read(spark))
        assert mor.read(spark).count() == 300

    def test_null_predicate_rows_kept(self, spark, tmp_path):
        t = IcepackCatalog(str(tmp_path)).table("n")
        t.append(spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "k bigint, v double").coalesce(1))
        t.delete_where(spark, [("v", "<", 10.0)], mode="mor")
        assert sorted(r["k"] for r in t.read(spark).collect()) == [2, 3]

    def test_post_delete_appends_out_of_scope(self, spark, tmp_path):
        """Rows appended AFTER the mor delete are untouched even when
        they match the predicate — dir-granular sequence numbers."""
        t = _mk(spark, tmp_path)
        t.delete_where(spark, [("k", "<", 50)], mode="mor")
        t.append(spark.createDataFrame([(10, "late", 1.0)],
                                       "k bigint, user string, v double"))
        got = sorted(r["k"] for r in t.read(spark).filter("k < 50").collect())
        assert got == [10]  # only the late row survives below 50

    def test_compact_folds_masks(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(spark, [("k", ">=", 150), ("k", "<", 250)], mode="mor")
        before = _rows(t.read(spark))
        snap = t.compact(spark)
        assert snap.get("deletes") == []  # folded, none carried
        assert _rows(t.read(spark)) == before
        assert t.current_snapshot()["row_count"] == 300  # physical = logical now

    def test_cow_delete_folds_and_narrows(self, spark, tmp_path):
        """A later cow delete folds pending masks in the dirs it
        rewrites and carries entries narrowed to surviving dirs —
        masked rows are never resurrected."""
        t = _mk(spark, tmp_path)
        t.delete_where(spark, [("k", ">=", 150), ("k", "<", 250)], mode="mor")
        # cow-delete a range overlapping ONE of the mor-affected dirs
        snap = t.delete_where(spark, [("k", ">=", 100), ("k", "<", 160)])
        # the [100,200) dir was rewritten (mask folded); [200,300)'s
        # entry carries forward narrowed
        carried = snap["deletes"]
        assert len(carried) == 1 and len(carried[0]["applies_to"]) == 1
        got = sorted(r["k"] for r in t.read(spark).collect())
        assert got == list(range(0, 100)) + list(range(250, 400))

    @pytest.mark.parametrize("sidecar", [True, False],
                             ids=["sidecar", "no_sidecar"])
    def test_cow_delete_after_mor_delete_counts(self, spark, tmp_path, sidecar):
        """rows_deleted counts live rows only (not the rows an earlier
        mor delete had masked), and the snapshot row_count stays
        physical when the rewritten dir has no stats sidecar."""
        t = IcepackCatalog(str(tmp_path)).table("c")
        t.append(spark.range(10).select(F.col("id").alias("k")))
        t.delete_where(spark, [("k", "<", 5)], mode="mor")
        if not sidecar:
            for d in t.current_snapshot()["data_dirs"]:
                os.remove(os.path.join(d, "_stats.json"))
        snap = t.delete_where(spark, [("k", "<", 8)])
        assert snap["rows_deleted"] == 3
        assert snap["row_count"] == 2
        assert t.count_where(spark) == t.read(spark).count() == 2

    def test_update_where_does_not_resurrect(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(spark, [("k", ">=", 150), ("k", "<", 250)], mode="mor")
        t.update_where(spark, [("k", ">=", 100), ("k", "<", 300)],
                       {"v": F.lit(-1.0)})
        got = t.read(spark)
        assert got.count() == 300  # masked rows did not come back
        assert got.filter("k >= 150 and k < 250").count() == 0
        assert got.filter("v = -1.0").count() == 100  # 100-149 + 250-299

    def test_time_travel_sees_pre_delete_rows(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        pre = t.current_snapshot()["snapshot_id"]
        t.delete_where(spark, [("k", "<", 100)], mode="mor")
        assert t.read(spark, snapshot_id=pre).count() == 400
        assert t.read(spark).count() == 300

    def test_prune_read_composes_with_masks(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(spark, [("k", ">=", 150), ("k", "<", 250)], mode="mor")
        got = _rows(t.read(spark, prune=[("k", ">=", 100), ("k", "<", 300)]))
        want = _rows(t.read(spark).filter("k >= 100 and k < 300"))
        assert got == want
        assert len(got) == 100  # 100-149 + 250-299

    def test_rebases_over_concurrent_append(self, spark, tmp_path):
        """A mor delete is metadata-only: it REBASES over a concurrent
        append (no conflict), and the appended rows stay out of scope."""
        t = _mk(spark, tmp_path)
        other = IcepackCatalog(str(tmp_path)).table("t")
        real = t.current_snapshot
        state = {"n": 0}

        def snoop():
            snap = real()
            if state["n"] == 0:
                state["n"] = 1
                other.append(spark.createDataFrame(
                    [(20, "c", 1.0)], "k bigint, user string, v double"))
            return snap

        t.current_snapshot = snoop
        snap = t.delete_where(spark, [("k", "<", 50)], mode="mor")
        t.current_snapshot = real
        assert snap["snapshot_id"] == 6  # rebased over sid 5 (the append)
        got = sorted(r["k"] for r in t.read(spark).filter("k < 50").collect())
        assert got == [20]

    def test_conflicts_with_concurrent_compact_then_rescopes(
            self, spark, tmp_path):
        """A rewrite landing mid-commit would make the mask a silent
        no-op (scoped dirs gone) — the commit conflicts and the retry
        rescopes from the new CURRENT."""
        t = _mk(spark, tmp_path)
        other = IcepackCatalog(str(tmp_path)).table("t")
        real = t.current_snapshot
        state = {"n": 0}

        def snoop():
            snap = real()
            if state["n"] == 0:
                state["n"] = 1
                other.compact(spark)
            return snap

        t.current_snapshot = snoop
        t.delete_where(spark, [("k", "<", 50)], mode="mor")
        t.current_snapshot = real
        assert t.read(spark).count() == 350
        assert t.read(spark).filter("k < 50").count() == 0


class TestEqualityDeleteKeys:
    def test_erasure_by_key_file(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        keys = spark.createDataFrame(
            [("u3",), ("u5",)], "user string")
        snap = t.delete_keys(spark, keys, ["user"])
        assert snap["op"] == "mor_delete"
        got = t.read(spark)
        assert got.filter(F.col("user").isin("u3", "u5")).count() == 0
        want_gone = 400 - got.count()
        # exactly the u3/u5 rows vanished, nothing else
        assert want_gone > 0
        full = _mk(spark, tmp_path, "ref").read(spark)
        assert want_gone == full.filter(F.col("user").isin("u3", "u5")).count()

    def test_unknown_key_column_raises(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        with pytest.raises(ValueError, match="not in table schema"):
            t.delete_keys(spark, spark.createDataFrame([(1,)], "zz bigint"),
                          ["zz"])

    def test_compact_folds_and_expire_gcs_key_file(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        keys = spark.createDataFrame([("u1",)], "user string")
        snap = t.delete_keys(spark, keys, ["user"])
        kf = snap["deletes"][-1]["key_file"]
        assert os.path.isdir(kf)
        before = _rows(t.read(spark))
        t.compact(spark)
        assert _rows(t.read(spark)) == before
        assert t.current_snapshot().get("deletes") == []
        t.expire_snapshots(keep_last=1)
        assert not os.path.isdir(kf)  # no live snapshot references it

    def test_rollback_removes_key_file(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        snap = t.delete_keys(spark, spark.createDataFrame([("u1",)],
                                                          "user string"),
                             ["user"])
        kf = snap["deletes"][-1]["key_file"]
        assert t.rollback(snap["snapshot_id"]) is True
        assert not os.path.isdir(kf)
        assert t.read(spark).count() == 400  # masks gone with the snapshot


class TestChangelog:
    def test_inserts_and_deletes_attributed(self, spark, tmp_path):
        t = IcepackCatalog(str(tmp_path)).table("cdc")
        s1 = t.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k bigint, v double"))
        s2 = t.delete_where(spark, [("k", "<", 2)], mode="mor")
        s3 = t.append(spark.createDataFrame([(10, 1.0)], "k bigint, v double"))
        ch = t.read_changelog(spark, None)
        got = sorted((r["k"], r["_change_type"], r["_commit_snapshot_id"])
                     for r in ch.collect())
        want = sorted(
            [(i, "insert", s1["snapshot_id"]) for i in range(6)]
            + [(0, "delete", s2["snapshot_id"]),
               (1, "delete", s2["snapshot_id"]),
               (10, "insert", s3["snapshot_id"])])
        assert got == want
        # windowed: only changes after s1
        ch2 = t.read_changelog(spark, s1["snapshot_id"])
        assert sorted((r["k"], r["_change_type"]) for r in ch2.collect()) == \
            [(0, "delete"), (1, "delete"), (10, "insert")]

    def test_row_deletes_at_most_once(self, spark, tmp_path):
        """Two overlapping mor deletes: a row masked by the first must
        not re-emit under the second."""
        t = IcepackCatalog(str(tmp_path)).table("cdc2")
        t.append(spark.createDataFrame(
            [(i,) for i in range(10)], "k bigint"))
        t.delete_where(spark, [("k", "<", 5)], mode="mor")
        t.delete_where(spark, [("k", "<", 8)], mode="mor")
        ch = t.read_changelog(spark, None)
        dels = sorted(r["k"] for r in ch.collect()
                      if r["_change_type"] == "delete")
        assert dels == list(range(8))  # each deleted row exactly once

    def test_key_file_deletes_attributed(self, spark, tmp_path):
        t = IcepackCatalog(str(tmp_path)).table("cdc3")
        t.append(spark.createDataFrame(
            [(1, "u1"), (2, "u2"), (3, "u1")], "k bigint, user string"))
        t.delete_keys(spark, spark.createDataFrame([("u1",)], "user string"),
                      ["user"])
        ch = t.read_changelog(spark, None)
        dels = sorted(r["k"] for r in ch.collect()
                      if r["_change_type"] == "delete")
        assert dels == [1, 3]

    def test_changelog_replay_reconstructs_table(self, spark, tmp_path):
        """inserts minus deletes == current read — the retraction
        contract a downstream incremental consumer relies on."""
        t = IcepackCatalog(str(tmp_path)).table("cdc4")
        t.append(spark.createDataFrame(
            [(i, f"u{i % 3}") for i in range(30)], "k bigint, user string"))
        t.delete_where(spark, [("k", ">=", 20)], mode="mor")
        t.append(spark.createDataFrame(
            [(100 + i, "x") for i in range(5)], "k bigint, user string"))
        t.delete_keys(spark, spark.createDataFrame([("u1",)], "user string"),
                      ["user"])
        ch = t.read_changelog(spark, None)
        ins = ch.filter("_change_type = 'insert'").select("k", "user")
        dels = ch.filter("_change_type = 'delete'").select("k", "user")
        replay = sorted(tuple(r) for r in ins.exceptAll(dels).collect())
        assert replay == sorted(tuple(r) for r in t.read(spark).collect())

    def test_rewrite_in_range_raises(self, spark, tmp_path):
        from swarm_spark.tablestore import IncrementalReadError
        t = IcepackCatalog(str(tmp_path)).table("cdc5")
        s1 = t.append(spark.createDataFrame([(1,)], "k bigint"))
        t.compact(spark)
        with pytest.raises(IncrementalReadError):
            t.read_changelog(spark, s1["snapshot_id"])


class TestKeyFileOrphanGC:
    def test_unreferenced_key_file_collected_after_dwell(self, spark, tmp_path):
        """A key parquet left by a writer that crashed before its
        mor commit is GC'd by remove_orphan_files with the same dwell
        rule; live key files are never touched."""
        import time as _time

        t = _mk(spark, tmp_path)
        live = t.delete_keys(
            spark, spark.createDataFrame([("u1",)], "user string"), ["user"])
        live_kf = live["deletes"][-1]["key_file"]
        # simulate the crash: a key dir that no snapshot references
        dead = os.path.join(t.path, "_deletes", "deadbeef")
        os.makedirs(dead)
        with open(os.path.join(dead, "part-0.parquet"), "w") as fh:
            fh.write("x")
        old = _time.time() - 7200
        os.utime(os.path.join(dead, "part-0.parquet"), (old, old))
        os.utime(dead, (old, old))
        rep = t.remove_orphan_files(older_than_sec=3600)
        assert rep["orphans_removed"] == 1
        assert not os.path.isdir(dead)
        assert os.path.isdir(live_kf)  # referenced → untouched
        assert t.read(spark).filter("user = 'u1'").count() == 0  # mask intact


class TestMaskPlanShape:
    def test_key_mask_is_broadcast_join(self, spark, tmp_path):
        """The equality-delete mask must never shuffle the corpus: the
        key file joins as a BroadcastHashJoin (plan-asserted), and the
        predicate mask stays a pure filter."""
        t = IcepackCatalog(str(tmp_path)).table("p")
        t.append(spark.createDataFrame(
            [(i, f"u{i % 5}") for i in range(100)], "k bigint, user string"))
        t.delete_keys(spark, spark.createDataFrame([("u1",)], "user string"),
                      ["user"])
        t.delete_where(spark, [("k", "<", 10)], mode="mor")
        plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan


class TestSnapshotDiff:
    def test_diff_across_cow_rewrite(self, spark, tmp_path):
        """The recovery path: a cow delete breaks changelog
        attribution, but the content diff still reports exactly the
        removed rows."""
        t = IcepackCatalog(str(tmp_path)).table("d")
        s1 = t.append(spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k bigint, v string"))
        t.delete_where(spark, [("k", "<", 3)])  # cow — changelog raises
        t.append(spark.createDataFrame([(99, "new")], "k bigint, v string"))
        from swarm_spark.tablestore import IncrementalReadError
        import pytest as _pt
        with _pt.raises(IncrementalReadError):
            t.read_changelog(spark, s1["snapshot_id"])
        diff = t.snapshot_diff(spark, s1["snapshot_id"])
        got = sorted((r["k"], r["_change_type"]) for r in diff.collect())
        assert got == [(0, "delete"), (1, "delete"), (2, "delete"),
                       (99, "insert")]

    def test_diff_from_empty_and_bag_semantics(self, spark, tmp_path):
        t = IcepackCatalog(str(tmp_path)).table("d2")
        t.append(spark.createDataFrame([(1,), (1,), (2,)], "k bigint"))
        diff = t.snapshot_diff(spark, None)
        ks = sorted(r["k"] for r in diff.collect())
        assert ks == [1, 1, 2]  # duplicates preserved (bag diff)
        t.delete_where(spark, [("k", "=", 1)])
        diff2 = t.snapshot_diff(spark, 1)
        got = sorted((r["k"], r["_change_type"]) for r in diff2.collect())
        assert got == [(1, "delete"), (1, "delete")]

    def test_diff_equals_changelog_on_attributable_history(self, spark, tmp_path):
        """Where the changelog IS attributable, the content diff must
        agree with it (net of change types)."""
        t = IcepackCatalog(str(tmp_path)).table("d3")
        s1 = t.append(spark.createDataFrame(
            [(i, f"u{i % 3}") for i in range(12)], "k bigint, user string"))
        t.delete_where(spark, [("k", ">=", 8)], mode="mor")
        t.append(spark.createDataFrame([(100, "x")], "k bigint, user string"))
        ch = t.read_changelog(spark, s1["snapshot_id"]) \
            .select("k", "user", "_change_type")
        diff = t.snapshot_diff(spark, s1["snapshot_id"]) \
            .select("k", "user", "_change_type")
        assert sorted(map(tuple, ch.collect())) == \
            sorted(map(tuple, diff.collect()))
