"""Gold tier: Kimball star schema → warehouse catalog.

Reference semantics (src/etl/silver_to_gold.py:77-195) with two deliberate
engineering upgrades over the reference, both documented in SURVEY.md §7:

  * loads stay DISTRIBUTED through the catalog (the reference collects
    every row to the driver before loading, bigquery.py:109);
  * fact appends are IDEMPOTENT: re-running a day left-anti-joins against
    already-loaded `id_fact`s, so the daily rerun double-load bug of the
    reference (append with no dedup) cannot happen.

Gold reads silver's parquet, never its lineage: the fact increment from
the run date's partition, the dims from all retained silver (``dim_city``
from the newest row per source id), so every historical fact row still
joins them after their truncate-load, also for a city absent today.

Key contract (checked by tests and the oracle): every id is
sha2-256 of the natural key; fact FKs are RECOMPUTED hashes, so the fact
build joins only dim_city (the one dim contributing attributes — J2), and
the date/condition dims need no join at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.keys import composite_key, surrogate_key
from ..io.catalog import GoldCatalog
from ..operators.star_schema import build_dim_conformed, build_dim_distinct


def build_dim_city(silver_ibge: DataFrame, silver_cptec_cities: DataFrame) -> DataFrame:
    """Conformed city dim: IBGE ⋈ CPTEC by NAME equality (the reference's
    exact conformance semantics, silver_to_gold.py:85-96), composite
    sha2(ibge_id:cptec_id) key, coalesce'd display name."""
    ibge = silver_ibge.select(
        F.col("id").alias("id_ibge"),
        F.col("nome").alias("nome_ibge"),
        "uf_sigla",
        "regiao_nome",
    )
    cptec = silver_cptec_cities.select(
        F.col("id").alias("id_cptec"), F.col("nome").alias("nome_cptec")
    )
    return build_dim_conformed(
        ibge,
        cptec,
        ibge.nome_ibge == cptec.nome_cptec,
        key_name="id_city",
        key_cols=["id_ibge", "id_cptec"],
        select_cols=[
            F.col("id_ibge"),
            F.col("id_cptec"),
            F.coalesce(F.col("nome_ibge"), F.col("nome_cptec")).alias("nome"),
            F.col("uf_sigla"),
            F.col("regiao_nome"),
        ],
    )


def build_date_dim(silver_weather: DataFrame, col: str, key_name: str) -> DataFrame:
    return build_dim_distinct(
        silver_weather.select(F.col(col)), [col], key_name
    )


def build_dim_condition(silver_weather: DataFrame) -> DataFrame:
    # Key hashes `condicao` alone (reference silver_to_gold.py:134-137).
    return build_dim_distinct(
        silver_weather.select("condicao", "condicao_desc").distinct(),
        ["condicao", "condicao_desc"],
        "id_weather_condition",
        key_expr=surrogate_key("condicao"),
    )


def build_fact_weather(
    silver_weather: DataFrame, dim_city: DataFrame, modeling_date: str
) -> DataFrame:
    """Fact: one row per (city, forecast day, condition). FK hashes are
    recomputed from natural keys; only dim_city is joined (for id_city's
    composite natural key — city name is not enough to derive it)."""
    w = silver_weather.alias("w")
    c = dim_city.alias("c")
    joined = w.join(F.broadcast(c), F.col("w.cidade") == F.col("c.nome"), "inner")
    fk_city = F.col("c.id_city")
    fk_update = surrogate_key(F.col("w.atualizado_em"))
    fk_forecast = surrogate_key(F.col("w.data"))
    fk_condition = surrogate_key(F.col("w.condicao"))
    return joined.select(
        composite_key(fk_city, fk_forecast, fk_condition, sep="_").alias("id_fact"),
        fk_city.alias("id_city"),
        fk_update.alias("id_update_date"),
        fk_forecast.alias("id_forecast_date"),
        fk_condition.alias("id_weather_condition"),
        F.col("w.min").alias("min"),
        F.col("w.max").alias("max"),
        F.col("w._ingestion_date").alias("_ingestion_date"),
        F.lit(modeling_date).cast("date").alias("_modeling_date"),
    )


def idempotent_fact_append(
    spark: SparkSession,
    catalog: GoldCatalog,
    fact: DataFrame,
    table: str,
    dates: list[str],
    key_col: str = "id_fact",
    date_col: str = "_ingestion_date",
) -> None:
    """Append ``fact`` so a RERUN of the same increment cannot double-load
    — the engine's fix for the reference's daily append-with-no-dedup bug
    (silver_to_gold.py appends blindly; a retried DAG run loads twice).

    Idempotency anti-join, scoped for scale: only the history partitions
    whose ``date_col`` appears in this increment can collide, so the
    existing-keys read is pruned to ``dates``, the increment's dates as
    the caller knows them (the daily load: its run date). A fact row
    dated outside ``dates`` fails the write instead of escaping the
    anti-join; the check rides in the write, so finding the dates costs
    no job. The history side is never broadcast — it grows without
    bound; AQE picks the join strategy."""
    date_list = ", ".join(f"'{d}'" for d in dates)
    in_dates = f"{date_col} IN ({date_list})" if dates else "false"
    outside = f"{table} increment holds a {date_col} outside {list(dates)}"
    fact = fact.withColumn(
        date_col,
        F.coalesce(F.assert_true(F.expr(in_dates), outside), F.col(date_col)),
    )
    if catalog.table_exists(table):
        existing = catalog.read_table(spark, table, columns=[key_col], where=in_dates)
        fact = fact.join(existing, key_col, "left_anti")
    catalog.write_table(fact, table, mode="append", partition_by=[date_col])


def load_gold(
    spark: SparkSession,
    catalog: GoldCatalog,
    zone_dir: str,
    modeling_date: str,
) -> None:
    """Build all five gold tables from the silver zone and load them
    through the catalog.

    Dim loads are truncate (type-1 refresh); the fact load is an
    idempotent append (left-anti on id_fact)."""

    def silver(entity: str) -> DataFrame:
        return spark.read.parquet(os.path.join(zone_dir, "silver", entity))

    def newest(entity: str) -> DataFrame:
        by_id = Window.partitionBy("id").orderBy(F.col("_ingestion_date").desc())
        ranked = silver(entity).withColumn("_rank", F.row_number().over(by_id))
        return ranked.where("_rank = 1").drop("_rank")

    weather = silver("cptec_weather")
    dims = {
        "dim_city": build_dim_city(newest("ibge_cities"), newest("cptec_cities")),
        "dim_update_date": build_date_dim(weather, "atualizado_em", "id_update_date"),
        "dim_forecast_date": build_date_dim(weather, "data", "id_forecast_date"),
        "dim_weather_condition": build_dim_condition(weather),
    }
    for name, df in dims.items():
        catalog.write_table(df, name, mode="truncate")
    today = weather.where(F.col("_ingestion_date") == modeling_date)
    dim_city = catalog.read_table(spark, "dim_city")
    fact = build_fact_weather(today, dim_city, modeling_date)
    idempotent_fact_append(spark, catalog, fact, "fact_weather", [modeling_date])
