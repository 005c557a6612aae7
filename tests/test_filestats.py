"""File-level column statistics + scan-time file skipping (filestats.py).

The contract under test: read(prune=P) returns EXACTLY the same rows
as read().filter(P) — file skipping is invisible to semantics — while
provably-non-matching files are dropped from the scan (checked via
prune_report and df.inputFiles()). Soundness edge cases: all-null
files, NaN vs float upper bounds, >64-char string maxima, legacy dirs
without a sidecar, schema evolution across dirs.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from swarm_spark.filestats import (
    STATS_NAME,
    collect_dir_stats,
    load_dir_stats,
    prune_files,
)
from swarm_spark.tablestore import IcepackCatalog

UTC = dt.timezone.utc


def _mk_table(spark, tmp_path, name="t"):
    return IcepackCatalog(str(tmp_path / "wh")).table(name)


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def chunked_table(spark, tmp_path):
    """Four appends with disjoint id ranges and month-disjoint
    timestamps — each data dir's files carry tight, separated
    bounds, so pruning decisions are predictable."""
    t = _mk_table(spark, tmp_path)
    for chunk in range(4):
        df = spark.range(chunk * 100, chunk * 100 + 100).select(
            F.col("id").alias("k"),
            F.concat(F.lit(f"u{chunk}_"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("s"),
            (F.col("id") * 1.5).alias("x"),
            F.to_timestamp(F.lit(f"2024-0{chunk + 1}-15 12:00:00")).alias("ts"),
        )
        t.append(df.coalesce(1))
    return t


def test_sidecar_written_and_typed(chunked_table):
    snap = chunked_table.current_snapshot()
    for d in snap["data_dirs"]:
        stats = load_dir_stats(d)
        assert stats and stats["version"] == 1 and stats["files"]
        for fstats in stats["files"].values():
            cols = fstats["cols"]
            assert cols["k"][3] == "i64" and cols["k"][0] <= cols["k"][1]
            assert cols["s"][3] == "str"
            assert cols["x"][3] == "f64"
            assert cols["ts"][3] == "ts" and isinstance(cols["ts"][0], int)
            assert fstats["rows"] == 100


@pytest.mark.parametrize(
    "pred",
    [
        ("k", "=", 150),
        ("k", "<", 42),
        ("k", "<=", 100),
        ("k", ">", 350),
        ("k", ">=", 399),
        ("k", "in", [5, 205, 999]),
        ("s", "=", "u2_0210"),
        ("s", ">=", "u3_"),
        ("ts", "<", dt.datetime(2024, 2, 1)),
        ("ts", ">=", "2024-03-01T00:00:00"),
        ("x", "=", 150.0),
        ("x", "<=", 30.0),
        ("x", ">", 400.0),
        ("k", "notnull", None),
    ],
)
def test_prune_equals_filter(chunked_table, spark, pred):
    """read(prune) ≡ read().filter for every op, and at least the
    out-of-range predicates actually skip files."""
    from swarm_spark.filestats import residual_filter

    pruned = chunked_table.read(spark, prune=[pred])
    expected = residual_filter(chunked_table.read(spark), [pred])
    assert _rows_set(pruned) == _rows_set(expected)
    assert expected.count() > 0  # the matrix never tests a vacuous predicate


def test_skipping_actually_skips(chunked_table, spark):
    rep = chunked_table.prune_report([("k", "=", 150)])
    assert rep["files_total"] == 4 and rep["files_kept"] == 1
    assert rep["dirs_without_stats"] == 0
    files = chunked_table.read(spark, prune=[("k", "=", 150)]).inputFiles()
    assert len(files) == 1
    # conjunction: contradictory ranges → zero files, empty result,
    # schema intact
    df = chunked_table.read(spark, prune=[("k", "<", 50), ("k", ">", 350)])
    assert df.count() == 0 and df.columns == ["k", "s", "x", "ts"]


def test_float_nan_rule(spark, tmp_path):
    """A file containing NaN must NOT be skipped for > / >= even
    though its stats max (NaN-free) says it could be — Spark orders
    NaN above every value."""
    t = _mk_table(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan"))], "k int, x double"
    )
    t.append(df.coalesce(1))
    got = t.read(spark, prune=[("x", ">", 100.0)]).collect()
    assert len(got) == 1 and math.isnan(got[0]["x"])
    # the safe ops still prune: = and < exclude NaN semantically
    assert t.prune_report([("x", "=", 100.0)])["files_kept"] == 0
    assert t.prune_report([("x", "<", 0.5)])["files_kept"] == 0


def test_all_null_file_skipped_for_comparisons(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    t.append(
        spark.createDataFrame([(1, None), (2, None)], "k int, v string").coalesce(1)
    )
    t.append(spark.createDataFrame([(3, "a"), (4, "b")], "k int, v string").coalesce(1))
    assert t.prune_report([("v", "=", "a")])["files_kept"] == 1
    assert t.prune_report([("v", "isnull", None)])["files_kept"] >= 1
    assert _rows_set(t.read(spark, prune=[("v", "isnull", None)])) == {
        (1, None),
        (2, None),
    }
    assert _rows_set(t.read(spark, prune=[("v", "=", "a")])) == {(3, "a")}


def test_long_string_max_unbounded(spark, tmp_path):
    """>64-char string maxima: stored max must become None (truncation
    would be an invalid upper bound) and upper-side pruning must not
    fire; lower-side pruning still works off the truncated min."""
    t = _mk_table(spark, tmp_path)
    big = "z" * 200
    t.append(spark.createDataFrame([("m" * 100, 1), (big, 2)], "s string, k int").coalesce(1))
    d = t.current_snapshot()["data_dirs"][0]
    entry = load_dir_stats(d)["files"]
    (fstats,) = entry.values()
    mn, mx, _nulls, tag = fstats["cols"]["s"]
    assert tag == "str" and mx is None and mn == "m" * 64
    # cannot prune above (max unknown) …
    assert t.prune_report([("s", ">", "zzzz")])["files_kept"] == 1
    # … but can prune below the truncated min
    assert t.prune_report([("s", "<", "a")])["files_kept"] == 0
    assert _rows_set(t.read(spark, prune=[("s", ">=", "z")])) == {(big, 2)}


def test_legacy_dir_without_sidecar_scans_everything(chunked_table, spark):
    snap = chunked_table.current_snapshot()
    victim = snap["data_dirs"][0]
    os.remove(os.path.join(victim, STATS_NAME))
    rep = chunked_table.prune_report([("k", "=", 150)])
    assert rep["dirs_without_stats"] == 1 and rep["files_total"] == 3
    got = chunked_table.read(spark, prune=[("k", "=", 150)])
    assert got.count() == 1  # correctness unaffected


def test_corrupt_sidecar_is_ignored(chunked_table, spark):
    snap = chunked_table.current_snapshot()
    victim = snap["data_dirs"][1]
    with open(os.path.join(victim, STATS_NAME), "w") as fh:
        fh.write("{not json")
    got = chunked_table.read(spark, prune=[("k", ">=", 0)])
    assert got.count() == 400


def test_prune_with_schema_evolution(spark, tmp_path):
    """A column added by evolution is absent from older dirs' stats —
    those files must stay in the scan (maybe) and read as null."""
    t = _mk_table(spark, tmp_path)
    t.append(spark.createDataFrame([(1,)], "k int").coalesce(1))
    t.append(spark.createDataFrame([(2, "new")], "k int, extra string").coalesce(1))
    got = _rows_set(t.read(spark, prune=[("extra", "=", "new")]))
    assert got == {(2, "new")}
    # the old dir's file was scanned (no stats for 'extra'), the
    # residual filter dropped its row
    assert t.prune_report([("extra", "=", "new")])["files_kept"] == 2


def test_cluster_by_compact_tightens_bounds(spark, tmp_path):
    """Interleaved appends → every file spans the whole key range
    (pruning useless); compact(cluster_by) → point lookups touch ONE
    file."""
    t = _mk_table(spark, tmp_path)
    for start in range(2):  # two appends, each covering the full range
        df = spark.range(start, 1000, 2).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
        )
        t.append(df.repartition(4))
    before = t.prune_report([("k", "=", 777)])
    assert before["files_kept"] == before["files_total"] == 8  # useless
    t.compact(spark, target_files=8, cluster_by=["k"])
    after = t.prune_report([("k", "=", 777)])
    assert after["files_total"] >= 4 and after["files_kept"] == 1
    got = t.read(spark, prune=[("k", "=", 777)])
    assert got.count() == 1 and len(got.inputFiles()) == 1
    # range scan: only the overlapping files
    rng = t.prune_report([("k", ">=", 900), ("k", "<", 950)])
    assert rng["files_kept"] <= 2
    assert t.read(spark, prune=[("k", ">=", 900), ("k", "<", 950)]).count() == 50


def test_cluster_by_composes_with_time_partitioning(spark, tmp_path):
    """Partitioned table: cluster_by sorts within each write task so
    every hive partition's files carry tight cluster-column bounds;
    prune combines with ts_between partition pruning."""
    t = _mk_table(spark, tmp_path)
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.to_timestamp(
            F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string"), F.lit(" 00:00:00"))
        ).alias("ts"),
    )
    t.append(df, partition_unit="day", ts_col="ts")
    t.compact(spark, cluster_by=["k"])
    rep = t.prune_report([("k", "=", 1500)])
    assert rep["files_kept"] < rep["files_total"]
    got = t.read(
        spark,
        ts_between=("2024-01-01T00:00:00", "2024-01-03T23:59:59"),
        prune=[("k", "=", 1500)],
    )
    assert got.count() == 1


def test_adopt_dir_collects_stats(spark, tmp_path):
    staging = str(tmp_path / "staged")
    spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k int, v string").coalesce(
        1
    ).write.parquet(staging)
    t = _mk_table(spark, tmp_path)
    schema = spark.read.parquet(staging).schema
    t.adopt_dir(staging, 50, schema)
    d = t.current_snapshot()["data_dirs"][0]
    assert load_dir_stats(d) is not None
    assert t.prune_report([("k", "=", 9999)])["files_kept"] == 0


def test_prune_files_rejects_bad_ops(chunked_table):
    with pytest.raises(ValueError, match="bad predicate"):
        prune_files(chunked_table.current_snapshot()["data_dirs"], [("k", "!=", 1)])


def test_collect_is_idempotent_and_atomic(chunked_table):
    d = chunked_table.current_snapshot()["data_dirs"][0]
    before = json.dumps(load_dir_stats(d), sort_keys=True)
    collect_dir_stats(d)  # second call: no-op (sidecar exists)
    assert json.dumps(load_dir_stats(d), sort_keys=True) == before
    assert not any(f.endswith(".tmp") for f in os.listdir(d))


class TestZOrder:
    def _grid_table(self, spark, tmp_path, name):
        from swarm_spark.tablestore import IcepackCatalog

        t = IcepackCatalog(str(tmp_path / "zwh")).table(name)
        # 64x64 grid, row-major: naive order clusters x poorly
        df = spark.range(0, 4096).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("bigint").alias("y"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        t.append(df.repartition(8))
        return t

    def test_zorder_prunes_both_dimensions(self, spark, tmp_path):
        t = self._grid_table(spark, tmp_path, "z")
        t.compact(spark, target_files=16, zorder_by=["x", "y"])
        px = t.prune_report([("x", ">=", 0), ("x", "<", 8)])
        py = t.prune_report([("y", ">=", 0), ("y", "<", 8)])
        # 16 z-tiles over a 64x64 grid = 4x4 tiles; an 8-wide slab
        # overlaps only the 4 tiles of one edge column/row
        assert px["files_total"] == 16 and px["files_kept"] <= 6
        assert py["files_kept"] <= 6
        # correctness: pruned read == plain filter
        got = t.read(spark, prune=[("x", ">=", 0), ("x", "<", 8)])
        assert got.count() == 8 * 64
        assert t.read(spark, prune=[("x", "=", 63), ("y", "=", 63)]).count() == 1

    def test_single_column_cluster_cannot_serve_second_dim(self, spark, tmp_path):
        """The contrast that motivates z-order: cluster_by x leaves y
        unprunable (every file spans all y? no — row-major data means
        x-sort leaves y spread: each x-slice contains ALL y values)."""
        t = self._grid_table(spark, tmp_path, "c")
        t.compact(spark, target_files=16, cluster_by=["x"])
        py = t.prune_report([("y", ">=", 0), ("y", "<", 8)])
        assert py["files_kept"] == py["files_total"]  # useless on y
        px = t.prune_report([("x", ">=", 0), ("x", "<", 8)])
        assert px["files_kept"] <= 3  # but excellent on x

    def test_zorder_validation(self, spark, tmp_path):
        from swarm_spark.filestats import zorder_expression

        t = self._grid_table(spark, tmp_path, "v")
        with pytest.raises(ValueError, match="not both"):
            t.compact(spark, cluster_by=["x"], zorder_by=["x", "y"])
        df = t.read(spark)
        with pytest.raises(ValueError, match=">= 2 columns"):
            zorder_expression(df, ["x"])
        with pytest.raises(ValueError, match="overflows"):
            zorder_expression(df, ["x", "y"], bits=32)
        with pytest.raises(ValueError, match="entirely null"):
            zorder_expression(
                df.withColumn("z", F.lit(None).cast("bigint")), ["x", "z"]
            )

    def test_zorder_composes_with_time_partitioning(self, spark, tmp_path):
        from swarm_spark.tablestore import IcepackCatalog

        t = IcepackCatalog(str(tmp_path / "zp")).table("t")
        df = spark.range(0, 2048).select(
            (F.col("id") % 32).alias("x"),
            (F.col("id") / 32).cast("bigint").alias("y"),
            F.to_timestamp(
                F.concat(F.lit("2024-01-0"), (F.col("id") % 2 + 1).cast("string"),
                         F.lit(" 00:00:00"))).alias("ts"),
        )
        t.append(df, partition_unit="day", ts_col="ts")
        t.compact(spark, target_files=16, zorder_by=["x", "y"])
        rep = t.prune_report([("x", "<", 4), ("y", "<", 4)])
        assert rep["files_kept"] < rep["files_total"]
        got = t.read(spark, ts_between=("2024-01-01T00:00:00", "2024-01-01T23:59:59"),
                     prune=[("x", "<", 4), ("y", "<", 4)])
        assert got.count() == df.filter(
            (F.col("x") < 4) & (F.col("y") < 4)
            & (F.col("ts") < F.lit("2024-01-02"))).count()


class TestDeleteWhere:
    def test_targeted_delete_rewrites_only_affected_dirs(self, chunked_table, spark):
        """Four disjoint-range dirs; deleting k in [150,200) must
        rewrite ONE dir and carry the other three untouched."""
        t = chunked_table
        dirs_before = set(t.current_snapshot()["data_dirs"])
        snap = t.delete_where(spark, [("k", ">=", 150), ("k", "<", 200)])
        assert snap["op"] == "delete"
        assert snap["dirs_rewritten"] == 1 and snap["dirs_untouched"] == 3
        assert snap["rows_deleted"] == 50
        # the three untouched dirs are literally the same dirs
        assert len(dirs_before & set(snap["data_dirs"])) == 3
        got = t.read(spark)
        assert got.count() == 350
        assert got.filter((F.col("k") >= 150) & (F.col("k") < 200)).count() == 0
        assert t.current_snapshot()["row_count"] == 350
        # time travel to pre-delete still sees everything
        assert t.read(spark, snapshot_id=snap["parent"]).count() == 400

    def test_stats_sidecar_survives_delete_rewrite(self, chunked_table, spark):
        """The rewritten dir must carry a fresh sidecar so file
        skipping keeps working after DML."""
        t = chunked_table
        dirs_before = set(t.current_snapshot()["data_dirs"])
        snap = t.delete_where(spark, [("k", ">=", 150), ("k", "<", 200)])
        new_dir = [d for d in snap["data_dirs"] if d not in dirs_before]
        assert len(new_dir) == 1 and load_dir_stats(new_dir[0])
        rep = t.prune_report([("k", "=", 120)])  # survivor in rewritten dir
        assert rep["files_kept"] < rep["files_total"]
        assert t.read(spark, prune=[("k", "=", 120)]).count() == 1
        assert t.read(spark, prune=[("k", "=", 170)]).count() == 0  # deleted

    def test_delete_null_predicate_rows_are_kept(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y")], "k int, v string"))
        snap = t.delete_where(spark, [("v", "=", "x")])
        assert snap["rows_deleted"] == 1
        assert _rows_set(t.read(spark)) == {(2, None), (3, "y")}

    def test_delete_nothing_is_metadata_only(self, chunked_table, spark):
        sid = chunked_table.current_snapshot()["snapshot_id"]
        snap = chunked_table.delete_where(spark, [("k", "=", 99999)])
        assert snap["rows_deleted"] == 0 and snap["dirs_rewritten"] == 0
        # no new snapshot was committed — provably-no-match is free
        assert chunked_table.current_snapshot()["snapshot_id"] == sid
        assert chunked_table.read(spark).count() == 400

    def test_delete_everything_leaves_empty_table(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        t.append(spark.createDataFrame([(1,), (2,)], "k int"))
        snap = t.delete_where(spark, [("k", ">=", 0)])
        assert snap["rows_deleted"] == 2
        got = t.read(spark)
        assert got.count() == 0 and got.columns == ["k"]

    def test_delete_on_partitioned_table(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        df = spark.range(0, 200).select(
            F.col("id").alias("k"),
            F.to_timestamp(
                F.concat(F.lit("2024-01-0"), (F.col("id") % 2 + 1).cast("string"),
                         F.lit(" 00:00:00"))).alias("ts"),
        )
        t.append(df, partition_unit="day", ts_col="ts")
        snap = t.delete_where(spark, [("k", "<", 50)])
        assert snap["rows_deleted"] == 50
        assert t.read(spark).count() == 150
        # partition pruning still works post-delete
        jan1 = t.read(spark, ts_between=("2024-01-01T00:00:00", "2024-01-01T23:59:59"))
        assert jan1.count() == 75  # even ids in [50, 200)


class TestUpdateWhere:
    def test_targeted_update_rewrites_only_affected_dirs(self, chunked_table, spark):
        t = chunked_table
        dirs_before = set(t.current_snapshot()["data_dirs"])
        snap = t.update_where(
            spark, [("k", ">=", 150), ("k", "<", 200)], {"s": "ZZZ"})
        assert snap["op"] == "update"
        assert snap["dirs_rewritten"] == 1 and snap["dirs_untouched"] == 3
        assert snap["rows_updated"] == 50
        assert len(dirs_before & set(snap["data_dirs"])) == 3
        got = t.read(spark)
        assert got.count() == 400 and snap["row_count"] == 400
        assert got.filter(F.col("s") == "ZZZ").count() == 50
        assert got.filter(
            (F.col("k") >= 150) & (F.col("k") < 200)
            & (F.col("s") != "ZZZ")).count() == 0
        # time travel to pre-update sees the old values
        old = t.read(spark, snapshot_id=snap["parent"])
        assert old.filter(F.col("s") == "ZZZ").count() == 0

    def test_update_expression_sees_pre_update_values(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k int, n int"))
        snap = t.update_where(
            spark, [("k", ">=", 2)], {"n": F.col("n") + F.col("k")})
        assert snap["rows_updated"] == 2
        assert _rows_set(t.read(spark)) == {(1, 10), (2, 22), (3, 33)}

    def test_update_null_predicate_rows_unchanged(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y")], "k int, v string"))
        snap = t.update_where(spark, [("v", "=", "x")], {"v": "upd"})
        assert snap["rows_updated"] == 1
        assert _rows_set(t.read(spark)) == {(1, "upd"), (2, None), (3, "y")}

    def test_update_nothing_is_metadata_only(self, chunked_table, spark):
        sid = chunked_table.current_snapshot()["snapshot_id"]
        snap = chunked_table.update_where(
            spark, [("k", "=", 99999)], {"s": "nope"})
        assert snap["rows_updated"] == 0 and snap["dirs_rewritten"] == 0
        assert chunked_table.current_snapshot()["snapshot_id"] == sid

    def test_update_value_cast_to_column_type(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        t.append(spark.createDataFrame([(1, 10)], "k int, n int"))
        t.update_where(spark, [("k", "=", 1)], {"n": 99.0})  # float → int col
        got = t.read(spark)
        assert dict(got.dtypes)["n"] == "int"
        assert got.first()["n"] == 99

    def test_update_unknown_column_raises(self, chunked_table, spark):
        with pytest.raises(ValueError, match="unknown column"):
            chunked_table.update_where(spark, [("k", "=", 1)], {"nope": 0})


class TestOrphanGC:
    def test_orphans_removed_referenced_kept(self, chunked_table, spark):
        import os as _os
        import time as _time

        t = chunked_table
        orphan = os.path.join(t.data, "_s=deadbeef")
        _os.makedirs(orphan)
        with open(os.path.join(orphan, "junk.parquet"), "w") as fh:
            fh.write("x")
        old = _time.time() - 7200
        # age the WHOLE tree: GC ages by the newest mtime anywhere in
        # the dir, so a fresh file inside keeps the dir alive
        _os.utime(os.path.join(orphan, "junk.parquet"), (old, old))
        _os.utime(orphan, (old, old))
        fresh_orphan = os.path.join(t.data, "_s=cafebabe")
        _os.makedirs(fresh_orphan)
        rep = t.remove_orphan_files(older_than_sec=3600)
        assert rep == {"orphans_removed": 1, "orphans_too_young": 1}
        assert not _os.path.isdir(orphan) and _os.path.isdir(fresh_orphan)
        assert t.read(spark).count() == 400  # table untouched
        # dirs referenced ONLY by an old snapshot are still live
        t.compact(spark, target_files=1)
        rep = t.remove_orphan_files(older_than_sec=0)
        assert rep["orphans_removed"] == 1  # just the young one from before
        assert t.read(spark, snapshot_id=1).count() == 100  # time travel intact
