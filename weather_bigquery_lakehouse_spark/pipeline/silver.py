"""Silver tier: clean, standardize, validate → parquet.

Reference semantics (src/etl/bronze_to_silver.py), one lazy plan per table
instead of the reference's O(columns) eager count() jobs:

  weather:  flatten clima array (explode), parse `atualizado_em` through
            the 3-format coalesce chain, drop `indice_uv`, trim / null-
            filter / dedup, stamp `_processing_date`.
  cities:   flatten nested structs to `parent_child` columns, same
            cleaning.

Each run reads only its date's bronze partition and overwrites only that
silver partition (the session runs partitionOverwriteMode=dynamic), so a
day's silver work does not grow with history.

Per-run cleaning accounting (the counts the reference PRINTS per step,
data_cleaning.py:8-53) is persisted under ``silver/_quality/<entity>`` via
``df.observe`` (CollectMetrics): the aggregates are collected WHILE the
silver write streams the data, so the quality table costs ZERO extra
passes — at 100 TB a second accounting scan of bronze would double the
stage's read volume.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (
    _numeric_cols,
    dedupe_rows,
    drop_null_rows,
    normalize_names,
    trim_strings,
)
from ..functions.dates import parse_date_multi
from ..functions.flatten import flatten_structs
from ..io.writers import write_table
from .bronze import CITY_PAYLOAD, FORECAST_PAYLOAD, read_bronze


class QualityObserver:
    """Threads cleaning-accounting observations through a silver chain.

    Three `CollectMetrics` points ride the ONE silver write action:
      * ``observe_pre``  — rows_in + per-column null/NaN counts + per-
        string-column untrimmed counts on the raw frame;
      * ``observe_mid``  — row count after null-filter/trim, before dedup
        (so duplicate removals are separable from null removals);
      * ``observe_out``  — rows written.

    ``write_report`` then assembles the 1-row ``_quality`` table from the
    collected metric dicts (driver-side constants — no second scan).
    ``observe`` cannot host distinct aggregates, so unlike the standalone
    ``removal_accounting`` oracle query the report derives duplicates as
    ``mid − out`` instead of a countDistinct over all columns — the same
    number whenever dedup is the only mid→out transform (which the silver
    chains guarantee)."""

    def __init__(self) -> None:
        self._pre = Observation()
        self._mid = Observation()
        self._out = Observation()

    def observe_pre(self, df: DataFrame) -> DataFrame:
        numeric = _numeric_cols(df)
        strings = {
            f.name for f in df.schema.fields if f.dataType.typeName() == "string"
        }
        aggs = [F.count(F.lit(1)).alias("rows_in")]
        for c in df.columns:
            is_null = F.col(c).isNull()
            if c in numeric:
                is_null = is_null | F.isnan(F.col(c))
            aggs.append(F.sum(is_null.cast("bigint")).alias(f"n_null_{c}"))
        for c in df.columns:
            if c in strings:
                dirty = F.col(c).isNotNull() & (F.col(c) != F.trim(F.col(c)))
                aggs.append(F.sum(dirty.cast("bigint")).alias(f"n_untrimmed_{c}"))
        return df.observe(self._pre, *aggs)

    def observe_mid(self, df: DataFrame) -> DataFrame:
        return df.observe(self._mid, F.count(F.lit(1)).alias("n"))

    def observe_out(self, df: DataFrame) -> DataFrame:
        return df.observe(self._out, F.count(F.lit(1)).alias("n"))

    def write_report(
        self,
        spark: SparkSession,
        zone_dir: str,
        entity: str,
        processing_date: str,
    ) -> None:
        """Call AFTER the silver write action — `Observation.get` blocks
        until the first action over the observed plan completes."""
        pre = dict(self._pre.get)
        mid_rows = int(self._mid.get["n"])
        rows_out = int(self._out.get["n"])
        rows_in = int(pre.pop("rows_in"))
        row = {
            "entity": entity,
            "_processing_date": _dt.date.fromisoformat(processing_date),
            "rows_in": rows_in,
            "rows_out": rows_out,
            # sum() over an empty/all-clean frame observes NULL, not 0
            **{k: int(v or 0) for k, v in pre.items()},
            "n_duplicate_rows": mid_rows - rows_out,
        }
        order = list(row.keys())
        # one partition: the 1-row frame otherwise also writes an empty file
        report = spark.createDataFrame([row]).select(*order).coalesce(1)
        write_table(
            report,
            os.path.join(zone_dir, "silver", "_quality", entity),
            mode="append",
        )


def silver_weather(
    spark: SparkSession, zone_dir: str, processing_date: str
) -> DataFrame:
    """Bronze forecasts → one row per (city, day) with typed dates.

    Mirrors reference bronze_to_silver.py:30-86: the explode replaces the
    pandas `.explode('clima')` done at ingest (F13) — done HERE, the raw
    array survives in bronze."""
    bronze = read_bronze(
        spark, zone_dir, "cptec_weather", FORECAST_PAYLOAD, processing_date
    )
    exploded = bronze.select(
        F.col("nome").alias("cidade"),
        "estado",
        "atualizado_em",
        F.explode("clima").alias("dia"),
        "_source",
        "_ingestion_date",
    ).select(
        "cidade",
        "estado",
        "atualizado_em",
        F.col("dia.data").alias("data"),
        F.col("dia.condicao").alias("condicao"),
        F.col("dia.condicao_desc").alias("condicao_desc"),
        F.col("dia.min").alias("min"),
        F.col("dia.max").alias("max"),
        # indice_uv dropped (reference bronze_to_silver.py:71)
        "_source",
        "_ingestion_date",
    )
    q = QualityObserver()
    mid = q.observe_mid(drop_null_rows(trim_strings(q.observe_pre(exploded))))
    cleaned = q.observe_out(
        dedupe_rows(mid)
        .withColumn("atualizado_em", parse_date_multi("atualizado_em"))
        .withColumn("data", F.to_date("data"))
        .withColumn("_processing_date", F.lit(processing_date).cast("date"))
    )
    write_table(
        cleaned,
        os.path.join(zone_dir, "silver", "cptec_weather"),
        partition_by=["_ingestion_date"],
    )
    q.write_report(spark, zone_dir, "cptec_weather", processing_date)
    return cleaned


def silver_cities(
    spark: SparkSession, zone_dir: str, processing_date: str
) -> DataFrame:
    """Bronze city payloads → flat silver table.

    Struct flattening is a pure projection (F12) — the Spark-native
    replacement for `pd.json_normalize` with prefix renames."""
    bronze = read_bronze(
        spark, zone_dir, "ibge_cities", CITY_PAYLOAD, processing_date
    )
    flat = normalize_names(flatten_structs(bronze))
    # Reference keeps id, nome + region attributes (bronze_ingest.py:40-47)
    projected = flat.select(
        "id",
        "nome",
        F.col("microrregiao_id"),
        F.col("microrregiao_nome"),
        F.col("microrregiao_mesorregiao_UF_sigla").alias("uf_sigla"),
        F.col("microrregiao_mesorregiao_UF_regiao_nome").alias("regiao_nome"),
        F.col("regiao_imediata_id"),
        F.col("regiao_imediata_nome"),
        "_source",
        "_ingestion_date",
    )
    q = QualityObserver()
    mid = q.observe_mid(trim_strings(q.observe_pre(projected)))
    cleaned = q.observe_out(
        dedupe_rows(mid).withColumn(
            "_processing_date", F.lit(processing_date).cast("date")
        )
    )
    write_table(
        cleaned,
        os.path.join(zone_dir, "silver", "ibge_cities"),
        partition_by=["_ingestion_date"],
    )
    q.write_report(spark, zone_dir, "ibge_cities", processing_date)
    return cleaned


def silver_cptec_cities(
    spark: SparkSession, zone_dir: str, processing_date: str
) -> DataFrame:
    """CPTEC city registry (id ↔ name) derived from the forecast payloads —
    the reference lands it as its own bronze CSV (bronze_ingest.py:53-55)."""
    bronze = read_bronze(
        spark, zone_dir, "cptec_weather", FORECAST_PAYLOAD, processing_date
    )
    cities = bronze.select(
        F.col("codigo").alias("id"), "nome", "estado", "_source", "_ingestion_date"
    )
    q = QualityObserver()
    mid = q.observe_mid(drop_null_rows(trim_strings(q.observe_pre(cities))))
    cleaned = q.observe_out(
        dedupe_rows(mid).withColumn(
            "_processing_date", F.lit(processing_date).cast("date")
        )
    )
    write_table(
        cleaned,
        os.path.join(zone_dir, "silver", "cptec_cities"),
        partition_by=["_ingestion_date"],
    )
    q.write_report(spark, zone_dir, "cptec_cities", processing_date)
    return cleaned
