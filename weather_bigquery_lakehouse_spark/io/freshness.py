"""Freshness-guarded conditional sinks.

The reference has two guard shapes:
  * S9  — write-if-stale: skip the write when the sink object is younger
    than a threshold (365 days), via a HEAD request on the object
    (reference src/etl/utils/bucket.py:89-144);
  * S13 — upload-if-new-year: skip the load when the target table's
    ``MAX(_ingestion_date)`` is in the current year
    (reference src/etl/utils/bigquery.py:19-40).

Both are control-flow utilities around a sink, not relational operators, so
they live here as plain functions. They read only metadata / a single
aggregate — no data movement when the guard says "fresh".
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import _hadoop_fs
from .writers import write_table


def _sink_mtime(spark: SparkSession, path: str) -> dt.datetime | None:
    """Last-modified time of a sink path, or None when absent.

    Uses the Hadoop FileSystem API so the same call works for file://,
    s3a:// (→ HEAD object under the hood) and hdfs:// — the Spark-native
    equivalent of the reference's boto3 ``head_object``
    (src/etl/utils/bucket.py:111-116)."""
    fs, hadoop_path = _hadoop_fs(spark, path)
    if not fs.exists(hadoop_path):
        return None
    status = fs.getFileStatus(hadoop_path)
    return dt.datetime.fromtimestamp(status.getModificationTime() / 1000.0, dt.timezone.utc)


def write_if_stale(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    max_age_days: int = 365,
    partition_by: list[str] | None = None,
    now: dt.datetime | None = None,
) -> bool:
    """Write ``df`` to ``path`` unless the sink is younger than
    ``max_age_days``. Returns True when a write happened.

    Mirrors the semantics of the reference's ``write_to_minio_once_a_year``
    (src/etl/utils/bucket.py:89-144): missing sink → write; stale → write;
    fresh → skip."""
    spark = df.sparkSession
    mtime = _sink_mtime(spark, path)
    now = now or dt.datetime.now(dt.timezone.utc)
    if mtime is not None and (now - mtime) < dt.timedelta(days=max_age_days):
        return False
    write_table(df, path, fmt=fmt, partition_by=partition_by)
    return True


def upload_if_new_year(
    df: DataFrame,
    catalog,
    table: str,
    ingestion_date_col: str = "_ingestion_date",
    today: dt.date | None = None,
) -> bool:
    """Append ``df`` to ``catalog.table`` unless the table's
    ``MAX(_ingestion_date)`` falls in the current year. Returns True when a
    load happened. Semantics of reference src/etl/utils/bigquery.py:19-40,
    but the freshness probe is a distributed single-column aggregate over
    the sink (partition-pruned parquet scan), not a warehouse SQL query."""
    today = today or dt.date.today()
    if catalog.table_exists(table):
        last = (
            catalog.read_table(df.sparkSession, table)
            .agg(F.max(F.col(ingestion_date_col).cast("date")).alias("last_date"))
            .first()["last_date"]
        )
        if last is not None and last.year == today.year:
            return False
    catalog.write_table(df, table, mode="append")
    return True
