"""Spark-catalog implementations of the icepack Catalog/Table protocol.

`IcepackCatalog` (tablestore.py) is the self-contained default for
containers without table-format jars. This module provides the
PRODUCTION binding: the same small protocol the pipeline depends on
(`table(name)` → `.append(df, partition_unit, ts_col) -> snapshot
dict`, `.append_rows(rows, schema, partition_unit, ts_col)`,
`.read(spark)`, `.exists()`, `.schema()`) implemented over the
Spark SQL catalog API, so a cluster with Iceberg configured

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hive|hadoop|rest

gets real Iceberg tables (snapshot isolation, time travel, schema
evolution, hidden partitioning) with NO pipeline code changes:

    IngestPipeline(spark, cfg, catalog=IcebergCatalog(spark, "lake.db"))

On the default `spark_catalog` the same code works against managed
parquet tables (used by the unit tests), minus snapshot metadata —
`snapshot_id` is -1 there, time travel raises, and the pipeline's
partial-failure RESUME-SKIP degrades (it needs a snapshot log to
recognize a failed attempt's commits; the manifest completed/failed
gate itself is catalog-independent and still enforces batch-level
exactly-once).

Partition transforms map to the catalog's own mechanism: Iceberg's
hours()/days()/months()/years() hidden transforms (no _p column at
all — the engine prunes on the transform), the exact analogue of
icepack's `_p` hive column.

Reference parity: the committed-table contract of swarm's BigQuery
client (/root/reference/pkg/infra/bq/client.go:126-266) — create or
evolve, atomic visible commit, per-append row accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TRANSFORM = {"hour": "hours", "day": "days", "month": "months", "year": "years"}


# -- Iceberg SQL statement builders -----------------------------------
# The container has no Iceberg jars, so these statements cannot run
# against the engine they target; they are PINNED instead: golden
# tests (tests/test_catalogs.py) assert the exact strings against the
# documented Iceberg Spark syntax AND feed each one through Spark's
# SQL parser so dialect drift (a typo'd keyword, wrong CALL shape)
# fails in CI, not in production. ALTER..ADD COLUMNS additionally
# EXECUTES against a spark_catalog parquet table in the tests.

def iceberg_sql_add_columns(qualified: str, cols: list[tuple[str, str]]) -> str:
    """ALTER TABLE .. ADD COLUMNS (..) — schema evolution, the
    create-or-evolve contract of bq createOrUpdateTable
    (/root/reference/pkg/infra/bq/client.go:126-200)."""
    spec = ", ".join(f"{n} {t}" for n, t in cols)
    return f"ALTER TABLE {qualified} ADD COLUMNS ({spec})"


def iceberg_sql_rollback(catalog: str, qualified: str, snapshot_id: int) -> str:
    return (
        f"CALL {catalog}.system.rollback_to_snapshot"
        f"('{qualified}', {snapshot_id})"
    )


def iceberg_sql_expire_snapshots(catalog: str, qualified: str, retain_last: int) -> str:
    return (
        f"CALL {catalog}.system.expire_snapshots(table => '{qualified}', "
        f"retain_last => {retain_last})"
    )


class SparkCatalogTable:
    def __init__(self, spark: SparkSession, qualified: str, fmt: str = ""):
        self.spark = spark
        self.qualified = qualified
        self.name = qualified.rsplit(".", 1)[-1]
        self.fmt = fmt  # '' → catalog default (iceberg for an Iceberg catalog)

    # -- protocol ------------------------------------------------------
    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.qualified)

    def schema(self) -> T.StructType | None:
        if not self.exists():
            return None
        return self.spark.table(self.qualified).schema

    def _is_iceberg(self) -> bool:
        try:
            self.spark.table(f"{self.qualified}.snapshots").limit(0)
            return True
        except Exception:
            return False

    def current_snapshot_id(self) -> int:
        """Iceberg: newest snapshot id from the metadata table; plain
        catalogs have no snapshot log → -1."""
        try:
            row = (
                self.spark.table(f"{self.qualified}.snapshots")
                .orderBy(F.desc("committed_at"))
                .select("snapshot_id")
                .first()
            )
            return int(row["snapshot_id"]) if row else -1
        except Exception:
            return -1

    def _partition_unit_property(self) -> str:
        """Partition transform recorded at create time (V1 tables
        carry it as a table property; Iceberg carries it in the spec
        and never needs _p)."""
        try:
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.qualified}").collect():
                if r["key"] == "swarm.partition_unit":
                    return r["value"]
        except Exception:
            pass
        return ""

    def append(self, df: DataFrame, partition_unit: str = "",
               ts_col: str = "timestamp") -> dict:
        """Create-or-append with union-by-name evolution. Row count
        rides the write as an Observation (single pass)."""
        obs = Observation(f"rows-{self.name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        # V1 file formats (parquet/orc/...) on spark_catalog don't
        # accept DataFrameWriterV2 appends — use the V1 writer there;
        # Iceberg/catalog-default goes through writeTo (V2)
        v1 = self.fmt in ("parquet", "orc", "json", "csv")
        if not self.exists():
            if v1:
                w = df.write.format(self.fmt)
                if partition_unit:
                    # V1 has no hidden transforms; materialize a _p
                    # column like icepack
                    from .tablestore import _PART_FMT

                    df_p = df.withColumn(
                        "_p", F.date_format(F.col(ts_col), _PART_FMT[partition_unit])
                    )
                    df_p.write.format(self.fmt).partitionBy("_p") \
                        .saveAsTable(self.qualified)
                    # record the transform so later appends can inherit
                    # it (V1 has no hidden-transform metadata)
                    self.spark.sql(
                        f"ALTER TABLE {self.qualified} SET TBLPROPERTIES("
                        f"'swarm.partition_unit'='{partition_unit}')"
                    )
                else:
                    w.saveAsTable(self.qualified)
            else:
                writer = df.writeTo(self.qualified)
                if self.fmt:
                    writer = writer.using(self.fmt)
                if partition_unit:
                    writer = writer.partitionedBy(
                        getattr(F, _TRANSFORM[partition_unit])(F.col(ts_col))
                    )
                writer.create()
        else:
            live = self.spark.table(self.qualified).schema
            live_names = {f.name for f in live.fields}
            extra = [f.name for f in df.schema.fields if f.name not in live_names]
            if extra:
                if not self._is_iceberg():
                    raise ValueError(
                        f"schema evolution ({extra}) requires an Iceberg "
                        f"catalog; plain Spark catalogs cannot ALTER "
                        f"managed-table schemas safely"
                    )
                # Iceberg schema evolution: add new columns, then append
                new_cols = [
                    (f_.name, f_.dataType.simpleString())
                    for f_ in df.schema.fields
                    if f_.name in extra
                ]
                self.spark.sql(iceberg_sql_add_columns(self.qualified, new_cols))
                live = self.spark.table(self.qualified).schema
            # V1 partitioned table: materialize _p BEFORE alignment so
            # the null-fill for other missing live columns is kept
            # (rebuilding from raw df here would throw whenever df
            # lacks any other live column). When the caller omits
            # partition_unit, inherit the transform recorded at create
            # time — otherwise every row would land in the null
            # (__HIVE_DEFAULT_PARTITION__) partition.
            live_names = {f.name for f in live.fields}
            if "_p" in live_names and "_p" not in df.columns:
                unit = partition_unit or self._partition_unit_property()
                if not unit:
                    raise ValueError(
                        f"table {self.qualified} is _p-partitioned but no "
                        f"partition_unit was given and none is recorded in "
                        f"table properties; pass partition_unit explicitly"
                    )
                from .tablestore import _PART_FMT

                df = df.withColumn(
                    "_p", F.date_format(F.col(ts_col), _PART_FMT[unit])
                )
            # align to live order; unknown-to-df columns → null
            cols = [
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in live.fields
            ]
            aligned = df.select(*cols)
            if v1:
                w = aligned.write.mode("append").format(self.fmt)
                if "_p" in live_names:
                    # appends to a partitioned V1 table must declare the
                    # same partitioning or the writer rejects the append
                    w = w.partitionBy("_p")
                w.saveAsTable(self.qualified)
            else:
                aligned.writeTo(self.qualified).append()
        return {
            "snapshot_id": self.current_snapshot_id(),
            "added_rows": int(obs.get["n"]),
            "op": "append",
        }

    def append_rows(self, rows: list[tuple], schema: T.StructType,
                    partition_unit: str = "", ts_col: str = "timestamp") -> dict:
        """Driver-side rows (an audit record): the catalog owns its
        file layout, so they go through the DataFrame append."""
        return self.append(self.spark.createDataFrame(rows, schema),
                           partition_unit=partition_unit, ts_col=ts_col)

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is not None:
            # Iceberg time travel (VERSION AS OF); plain catalogs raise
            return spark.read.option("snapshot-id", snapshot_id).table(self.qualified)
        return spark.table(self.qualified)

    def rollback(self, snapshot_id: int) -> bool:
        """Iceberg rollback via the system procedure; unsupported on
        plain catalogs (returns False → caller falls back to
        manifest resume-skip, same as icepack under contention)."""
        cat = self.qualified.split(".", 1)[0]
        try:
            self.spark.sql(iceberg_sql_rollback(cat, self.qualified, snapshot_id))
            return True
        except Exception:
            return False

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        cat = self.qualified.split(".", 1)[0]
        self.spark.sql(iceberg_sql_expire_snapshots(cat, self.qualified, keep_last))
        return {"expired": -1, "data_dirs_removed": -1}

    def snapshots(self) -> list[dict]:
        try:
            return [
                {"snapshot_id": int(r["snapshot_id"]),
                 "op": r["operation"], "committed_at": r["committed_at"]}
                for r in self.spark.table(f"{self.qualified}.snapshots")
                .orderBy("committed_at").collect()
            ]
        except Exception:
            return []


class IcebergCatalog:
    """Catalog protocol over a Spark SQL catalog namespace. Pass
    namespace='lake.db' for an Iceberg catalog named 'lake' (fmt
    defaults to the catalog's provider), or a spark_catalog database
    with fmt='parquet' for jar-less environments/tests."""

    def __init__(self, spark: SparkSession, namespace: str, fmt: str = ""):
        self.spark = spark
        self.namespace = namespace
        self.fmt = fmt
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {namespace}")

    def table(self, name: str) -> SparkCatalogTable:
        return SparkCatalogTable(self.spark, f"{self.namespace}.{name}", self.fmt)

    def tables(self) -> list[str]:
        return sorted(
            t.name for t in self.spark.catalog.listTables(self.namespace)
        )
