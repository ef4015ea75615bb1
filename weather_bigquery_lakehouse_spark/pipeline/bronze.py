"""Bronze tier: land raw source payloads, schema-on-write.

The reference flattens nested JSON with pandas BEFORE landing, so bronze
already lost the raw shape (reference src/etl/bronze_ingest.py:38-70).
This engine lands the RAW nested records as JSON lines (plus the flat CSV
convenience view the reference had), preserving pre-flattening fidelity —
re-processing with new flattening logic never needs a re-fetch.

Lineage columns (`_source`, `_ingestion_date`) are stamped here, exactly
as the reference does (bronze_ingest.py:48-55,69-70).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io.writers import write_table

# Explicit payload schemas — bronze is schema-on-WRITE in this engine
# (replacing the reference's inferSchema-on-read, bucket.py:26-27).

CITY_PAYLOAD = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("nome", T.StringType()),
        T.StructField(
            "microrregiao",
            T.StructType(
                [
                    T.StructField("id", T.IntegerType()),
                    T.StructField("nome", T.StringType()),
                    T.StructField(
                        "mesorregiao",
                        T.StructType(
                            [
                                T.StructField("id", T.IntegerType()),
                                T.StructField("nome", T.StringType()),
                                T.StructField(
                                    "UF",
                                    T.StructType(
                                        [
                                            T.StructField("id", T.IntegerType()),
                                            T.StructField("sigla", T.StringType()),
                                            T.StructField("nome", T.StringType()),
                                            T.StructField(
                                                "regiao",
                                                T.StructType(
                                                    [
                                                        T.StructField("id", T.IntegerType()),
                                                        T.StructField("sigla", T.StringType()),
                                                        T.StructField("nome", T.StringType()),
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "regiao-imediata",
            T.StructType(
                [T.StructField("id", T.IntegerType()), T.StructField("nome", T.StringType())]
            ),
        ),
    ]
)

FORECAST_PAYLOAD = T.StructType(
    [
        T.StructField("codigo", T.IntegerType()),
        T.StructField("nome", T.StringType()),
        T.StructField("estado", T.StringType()),
        T.StructField("atualizado_em", T.StringType()),
        T.StructField(
            "clima",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("data", T.StringType()),
                        T.StructField("condicao", T.StringType()),
                        T.StructField("condicao_desc", T.StringType()),
                        T.StructField("min", T.IntegerType()),
                        T.StructField("max", T.IntegerType()),
                        T.StructField("indice_uv", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def land_records(
    spark: SparkSession,
    records: list[dict],
    schema: T.StructType,
    zone_dir: str,
    entity: str,
    source_name: str,
    ingestion_date: str,
) -> DataFrame:
    """Land raw records in the bronze zone as JSON lines, with lineage
    columns, partitioned by ingestion date (real partition columns instead
    of the reference's date-in-object-path, bronze_ingest.py:82-98)."""
    payload = spark.sparkContext.parallelize([json.dumps(r) for r in records])
    df = (
        spark.read.schema(schema).json(payload)
        .withColumn("_source", F.lit(source_name))
        .withColumn("_ingestion_date", F.lit(ingestion_date))
    )
    write_table(
        df,
        os.path.join(zone_dir, "bronze", entity),
        fmt="json",
        mode="overwrite",
        partition_by=["_ingestion_date"],
    )
    return df


def read_bronze(
    spark: SparkSession,
    zone_dir: str,
    entity: str,
    schema: T.StructType,
    ingestion_date: str,
) -> DataFrame:
    """One ingestion date of a bronze entity zone. The ``_ingestion_date``
    filter is a partition filter, so the other dates' files are never
    opened — a day's read stays one day as history grows."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_source", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .json(os.path.join(zone_dir, "bronze", entity))
        .where(F.col("_ingestion_date") == ingestion_date)
    )
