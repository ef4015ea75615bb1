"""Gold-tier warehouse catalog.

The reference's gold tier is BigQuery, reached through a client library
that (a) creates datasets/tables if absent (src/etl/utils/bigquery.py:7-17),
(b) loads Spark frames by collecting EVERY row to the driver and handing a
pandas frame to a load job (src/etl/utils/bigquery.py:105-141 — the
scalability bug this engine exists to not have), and (c) reads back with
filter/latest-snapshot SQL (src/etl/utils/bigquery.py:42-103).

``GoldCatalog`` keeps that exact surface but distributed. Two backends
behind one flag:

  * ``fmt="parquet"`` (default) — tables are parquet directories under a
    warehouse root; everything runs in this container.
  * ``fmt="bigquery"`` — the writer/reader assemble the public
    ``spark-bigquery-connector`` plan: ``format("bigquery")`` +
    ``table``/``filter`` options, distributed load/pushdown read, no
    driver collect. The connector jar and GCP credentials aren't in this
    container, so only the ASSEMBLY is exercised by tests
    (``writer_spec``/``reader_spec`` expose it); `.save()` on a real
    cluster is the single untested call.

All reads/writes stay on executors in both modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MODE_MAP = {"append": "append", "truncate": "overwrite", "overwrite": "overwrite"}


def ensure_dir(spark: SparkSession, path: str) -> bool:
    """CREATE BUCKET/DATASET IF NOT EXISTS for any Hadoop-FS scheme
    (file://, s3a://, hdfs://) — the engine's version of the reference's
    ``create_bucket_if_not_exists`` (src/etl/utils/bucket.py:146-160).
    Returns True when the directory was created."""
    fs, hadoop_path = _hadoop_fs(spark, path)
    if fs.exists(hadoop_path):
        return False
    fs.mkdirs(hadoop_path)
    return True


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any URI the session's Hadoop conf can
    resolve — the scheme (file://, s3a://, hdfs://) picks the
    implementation, and fs.s3a.* settings from ``build_session(s3a=...)``
    apply automatically."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[attr-defined]
    fs = hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    return fs, hadoop_path


class GoldCatalog:
    """Dataset of named gold tables behind a format switch.

    ``options`` carries connector settings (e.g. ``project``,
    ``temporaryGcsBucket``, ``writeMethod`` for the BigQuery connector);
    they are applied to every reader/writer this catalog assembles.

    Dataset creation, ``table_exists`` and ``drop_table`` go through the
    Hadoop FS API of the active session, so a ``file://``, ``s3a://`` or
    ``hdfs://`` warehouse behaves like a local path.
    """

    def __init__(
        self,
        warehouse_dir: str,
        dataset: str = "gold",
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
    ):
        self.warehouse_dir = warehouse_dir
        self.dataset = dataset
        self.fmt = fmt
        self.options = dict(options or {})
        if fmt != "bigquery":
            # CREATE DATASET IF NOT EXISTS (reference bigquery.py:7-17).
            # BigQuery datasets are created by the connector/warehouse,
            # not a filesystem.
            ensure_dir(SparkSession.active(), self._dataset_path())

    def _dataset_path(self) -> str:
        return os.path.join(self.warehouse_dir, self.dataset)

    def _table_path(self, table: str) -> str:
        return os.path.join(self._dataset_path(), table)

    def table_exists(self, table: str) -> bool:
        fs, path = _hadoop_fs(SparkSession.active(), self._table_path(table))
        return bool(fs.exists(path))

    def drop_table(self, table: str) -> None:
        fs, path = _hadoop_fs(SparkSession.active(), self._table_path(table))
        fs.delete(path, True)

    # -- plan assembly (exposed so tests can assert it without a network) --

    def writer_spec(
        self, table: str, mode: str, partition_by: list[str] | None = None
    ) -> dict:
        """The fully-assembled write plan: format, Spark save mode, options,
        and target (path for file formats, table option for connectors)."""
        spark_mode = _MODE_MAP[mode]
        if self.fmt == "bigquery":
            return {
                "format": "bigquery",
                "mode": spark_mode,
                "options": {**self.options, "table": f"{self.dataset}.{table}"},
                "path": None,
                "partition_by": list(partition_by or []),
            }
        options = dict(self.options)
        if mode == "truncate" and partition_by:
            # The session runs partitionOverwriteMode=dynamic (day-N zone
            # writes must not clobber day-1 partitions), but the reference's
            # WRITE_TRUNCATE (bigquery.py:105-141) means WHOLE-table
            # replacement. Under dynamic mode a partitioned overwrite only
            # replaces partitions present in the incoming frame — stale
            # partitions would survive a "truncate". The per-writer option
            # overrides the session conf for this write only.
            options["partitionOverwriteMode"] = "static"
        return {
            "format": self.fmt,
            "mode": spark_mode,
            "options": options,
            "path": self._table_path(table),
            "partition_by": list(partition_by or []),
        }

    def reader_spec(
        self, table: str, columns: list[str] | None = None, where: str | None = None
    ) -> dict:
        """The assembled read plan. For BigQuery the predicate travels as
        the connector's ``filter`` option (server-side pushdown, reference
        bigquery.py:71-85); for file formats it is a ``where`` Catalyst
        pushes into the scan."""
        if self.fmt == "bigquery":
            options = {**self.options, "table": f"{self.dataset}.{table}"}
            if where:
                options["filter"] = where
            return {
                "format": "bigquery",
                "options": options,
                "path": None,
                "columns": list(columns or []),
                "where": None,
            }
        return {
            "format": self.fmt,
            "options": dict(self.options),
            "path": self._table_path(table),
            "columns": list(columns or []),
            "where": where,
        }

    # -- SQL front door ---------------------------------------------------

    def register_sql(self, spark: SparkSession, table: str) -> str:
        """Expose a gold table to ``spark.sql`` as ``{dataset}.{table}`` —
        the engine's version of the reference's dataset/table DDL +
        SQL-consumption surface (bigquery.py:7-17 create-if-absent, then
        Looker-style ``SELECT ... FROM dataset.table`` reads).

        Registers an EXTERNAL table over the existing parquet directory
        (no data copy; the files written by ``write_table`` ARE the table)
        and repairs partition metadata so partitioned tables are fully
        visible. Idempotent. Returns the qualified name.

        Partition pruning still applies: ``WHERE`` on a partition column
        of a registered table prunes directories exactly as the path-based
        reads do. BigQuery-backed catalogs query through the connector,
        not the metastore, so this is a file-format-only operation."""
        if self.fmt == "bigquery":
            raise ValueError(
                "register_sql is for file-format catalogs; BigQuery tables "
                "are addressed through the connector's table option"
            )
        qualified = f"{self.dataset}.{table}"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.dataset}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {qualified} "
            f"USING {self.fmt} LOCATION '{self._table_path(table)}'"
        )
        # Discover hive-style partition directories written by path-based
        # writes (no-op for unpartitioned tables).
        try:
            spark.sql(f"MSCK REPAIR TABLE {qualified}")
        except Exception:
            pass
        return qualified

    # -- execution -------------------------------------------------------

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> None:
        """Distributed load — reference semantics of ``write_bq_table``
        (WRITE_APPEND / WRITE_TRUNCATE; bigquery.py:105-141) without the
        driver-side ``toPandas()`` collect."""
        spec = self.writer_spec(table, mode, partition_by)
        writer = df.write.format(spec["format"]).mode(spec["mode"]).options(
            **spec["options"]
        )
        if spec["partition_by"]:
            writer = writer.partitionBy(*spec["partition_by"])
        if spec["path"] is not None:
            writer.save(spec["path"])
        else:
            writer.save()

    def read_table(
        self,
        spark: SparkSession,
        table: str,
        columns: list[str] | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Filtered read; predicate/columns push down into the parquet scan
        (or travel as connector options — reference bigquery.py:42-103)."""
        spec = self.reader_spec(table, columns, where)
        reader = spark.read.format(spec["format"]).options(**spec["options"])
        df = reader.load(spec["path"]) if spec["path"] is not None else reader.load()
        if spec["where"]:
            df = df.where(spec["where"])
        if spec["columns"]:
            df = df.select(*spec["columns"])
        return df

    def read_latest_snapshot(
        self,
        spark: SparkSession,
        table: str,
        date_col: str = "_ingestion_date",
    ) -> DataFrame:
        """Latest-snapshot read: rows whose ingestion date equals the table
        max — the reference's scalar-subquery pattern
        (``WHERE DATE(c) = (SELECT MAX(DATE(c)) FROM t)``, bigquery.py:77-85),
        expressed as a self-join on the 1-row max (Catalyst decorrelates the
        scalar subquery to the same shape; broadcast of the 1-row side)."""
        df = self.read_table(spark, table)
        latest = df.agg(F.max(F.col(date_col).cast("date")).alias("__latest"))
        return (
            df.join(F.broadcast(latest), F.col(date_col).cast("date") == F.col("__latest"))
            .drop("__latest")
        )
