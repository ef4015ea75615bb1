"""The oracle-checked query registry.

One entry per operator family from SURVEY.md §2 plus the training-data
extension operators. Each ``QuerySpec`` pairs a Spark callable
``(spark, sf_dir) -> DataFrame`` with the ANSI-SQL string DuckDB runs on
the same parquet tables for the driver's correctness gate.

Engine-parity rules used throughout (so value hashes match):
  * money/double sums go through DECIMAL(18,2) (exact) and are cast to
    DOUBLE only at the end — both engines produce the identical double;
  * similarity/ratio doubles are ``round(x, 4..6)`` in BOTH engines;
  * every computed column is aliased identically on both sides;
  * integer-ish computed columns are cast to BIGINT (Spark INT vs DuckDB
    BIGINT would be a schema mismatch);
  * hashing parity: Spark ``sha2(x,256)`` ≡ DuckDB ``sha256(x)``;
    ``md5`` ≡ ``md5``; ``concat_ws`` skips NULLs in both.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.readers import load_testdata
from ..functions.dates import parse_date_multi
from ..functions.cleaning import drop_null_rows, trim_strings, dedupe_rows
from ..functions.profiling import (
    consistency_violations,
    distinct_counts,
    exact_quantiles,
    profile,
)
from ..functions.keys import surrogate_key
from ..functions.numeric import spark_round_sql as _R
from ..operators.star_schema import build_dim_conformed, build_dim_distinct, build_fact


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    description: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Queries pulled out of the driver-facing window (the driver's correctness
# gate records at most the FIRST 50 registry entries — round-3 lesson: 10
# round-3 operators silently fell past the cutoff). An entry is retired
# only when a remaining QUERIES entry subsumes its semantics (the mapping
# is documented in docs/REGISTRY.md). Retired entries keep their oracle and
# stay callable: bench.py still times them and tools/verify_oracle.py
# --retired still value-checks them.
RETIRED: dict[str, QuerySpec] = {}


def _register(name: str, oracle: str | None, description: str = "", retired: bool = False):
    def deco(fn):
        target = RETIRED if retired else QUERIES
        target[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def _views(spark: SparkSession, sf_dir: str, tables: list[str]) -> dict[str, DataFrame]:
    return load_testdata(spark, sf_dir, tables)


# --------------------------------------------------------------------------
# Reference surface — scans, projections, filters (S4/S5, P1, P7, P8)
# --------------------------------------------------------------------------

_SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
       CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS disc_price
FROM lineitem
WHERE CAST(l_shipdate AS DATE) < DATE '1996-01-01' AND l_discount > 0.05
"""


@_register(
    "filter_project_pushdown",
    _SQL_FILTER_PROJECT,
    "P1/P7/P8: projection + predicate, both pushed into the parquet scan",
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _views(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate").cast("date") < F.lit("1996-01-01").cast("date"))
            & (F.col("l_discount") > 0.05)
        ).select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            # Decimal end-to-end: the source doubles carry exact 2-decimal
            # money values, so double→DECIMAL(18,2) rounds identically in
            # both engines (never a half-way case), and every later step is
            # exact decimal arithmetic — bit-identical across engines.
            # Double arithmetic + a final decimal cast is NOT portable: the
            # engines disagree on the rounding mode at the 4th decimal.
            # Output type is DOUBLE, not DECIMAL: the driver's value hasher
            # renders DECIMAL differently per engine, so the registry rule is
            # "exact decimal math inside, DOUBLE at the boundary" — the
            # scale-4 decimals convert to identical doubles in both engines.
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("disc_price"),
        )
    )


# --------------------------------------------------------------------------
# Flagship: full star-schema query (J1/J2 shape + A1-A6 aggregates)
# --------------------------------------------------------------------------

_SQL_FLAGSHIP = """
SELECT r_name,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       MIN(CAST(o_orderdate AS DATE)) AS first_order,
       MAX(CAST(o_orderdate AS DATE)) AS last_order
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@_register(
    "flagship_star_revenue",
    _SQL_FLAGSHIP,
    "orders ⋈ customer ⋈ nation ⋈ region, revenue rollup per region; "
    "broadcast dims, shuffle only on the orders⋈customer key",
)
def flagship_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _views(spark, sf_dir, ["orders", "customer", "nation", "region"])
    o, c, n, r = t["orders"], t["customer"], t["nation"], t["region"]
    enriched = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return enriched.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


# --------------------------------------------------------------------------
# Star-schema builders (A2 distinct dims, J1 conformed dim, J2 fact,
# F6/F7/F8 sha2 surrogate-key contract)
# --------------------------------------------------------------------------

_SQL_DIM_DATE = """
SELECT sha256(CAST(order_date AS VARCHAR)) AS id_date, order_date
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
"""


@_register(
    "dim_date_distinct",
    _SQL_DIM_DATE,
    "A2+F6/F8: distinct-projection dim with sha2 surrogate key "
    "(reference silver_to_gold.py:108-125 shape)",
)
def dim_date_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _views(spark, sf_dir, ["orders"])["orders"]
    base = o.select(F.col("o_orderdate").cast("date").alias("order_date"))
    return build_dim_distinct(base, ["order_date"], "id_date")


_SQL_DIM_CONFORMED = """
SELECT sha256(concat_ws(':', CAST(c_custkey AS VARCHAR), CAST(n_nationkey AS VARCHAR)))
           AS id_customer,
       c_custkey,
       COALESCE(n_name, 'UNKNOWN') AS nation_name,
       c_mktsegment
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


@_register(
    "dim_conformed_customer",
    _SQL_DIM_CONFORMED,
    "J1+F1+F6/F7: conformed dim via inner equi-join + coalesce + composite "
    "sha2 key (reference dim_city, silver_to_gold.py:85-101)",
)
def dim_conformed_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _views(spark, sf_dir, ["customer", "nation"])
    c, n = t["customer"], t["nation"]
    return build_dim_conformed(
        c,
        n,
        c.c_nationkey == n.n_nationkey,
        key_name="id_customer",
        key_cols=["c_custkey", "n_nationkey"],
        select_cols=[
            F.col("c_custkey"),
            F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation_name"),
            F.col("c_mktsegment"),
        ],
    )


_SQL_FACT_ORDERS = """
WITH fk AS (
  SELECT sha256(CAST(o_custkey AS VARCHAR)) AS id_customer,
         sha256(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS id_order_date,
         o_orderkey, o_totalprice, c_mktsegment
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT sha256(concat_ws('_', id_customer, id_order_date)) AS id_fact,
       id_customer, id_order_date, o_orderkey, o_totalprice, c_mktsegment
FROM fk
"""


@_register(
    "fact_orders_keys",
    _SQL_FACT_ORDERS,
    "J2+F6/F7: fact with RECOMPUTED sha2 FKs (not join-propagated) + "
    "composite id_fact (reference fact_weather, silver_to_gold.py:144-195)",
    retired=True,  # driver window: subsumed by fact_rerun_idempotent (calls this function verbatim; same oracle SQL)
)
def fact_orders_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _views(spark, sf_dir, ["orders", "customer"])
    o, c = t["orders"], t["customer"]
    fk_exprs = {
        "id_customer": surrogate_key("o_custkey"),
        "id_order_date": surrogate_key(F.col("o_orderdate").cast("date")),
    }
    return build_fact(
        o,
        dim_joins=[(c, o.o_custkey == c.c_custkey)],
        fk_exprs=fk_exprs,
        fact_key_name="id_fact",
        fact_key_cols=[fk_exprs["id_customer"], fk_exprs["id_order_date"]],
        measures=[F.col("o_orderkey"), F.col("o_totalprice"), F.col("c_mktsegment")],
    )


@_register(
    "fact_rerun_idempotent",
    _SQL_FACT_ORDERS,
    "S13-class rerun safety driven through the gate: the fact build "
    "(fact_orders_keys, called verbatim) is landed into a catalog TWICE "
    "for the same ingestion date via the idempotent anti-join append "
    "(pipeline/gold.py idempotent_fact_append — the engine's fix for the "
    "reference's blind daily append, silver_to_gold.py:188-195); the "
    "read-back must equal a SINGLE load, so a double-load, a lost "
    "partition, or a drifting surrogate key all hash-fail the oracle",
)
def fact_rerun_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..io.catalog import GoldCatalog
    from ..pipeline.gold import idempotent_fact_append
    from .curation import _gold_workdir  # lazy: curation imports from here

    # localCheckpoint: the fact lineage (join + 3 sha2 keys) is consumed by
    # both writes below — pin ONE build instead of recomputing it per write
    day = "1998-08-02"
    fact = (
        fact_orders_keys(spark, sf_dir)
        .withColumn("_ingestion_date", F.lit(day).cast("date"))
        .localCheckpoint(eager=True)
    )
    root = os.path.join(_gold_workdir(sf_dir), "fact_rerun")
    catalog = GoldCatalog(root)
    # land the SAME increment twice — the rerun must be a complete no-op
    # (repeat registry sweeps in one process re-land again: still a no-op,
    # which is itself the contract under test)
    idempotent_fact_append(spark, catalog, fact, "fact_orders", [day])
    idempotent_fact_append(spark, catalog, fact, "fact_orders", [day])
    return catalog.read_table(spark, "fact_orders").select(
        "id_fact",
        "id_customer",
        "id_order_date",
        "o_orderkey",
        "o_totalprice",
        "c_mktsegment",
    )


# --------------------------------------------------------------------------
# Data-quality operators (A1 consistency, A3/A4 profiling, P5/P6/A5 cleaning)
# --------------------------------------------------------------------------

_SQL_CONSISTENCY = """
SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS unique_ids
FROM orders GROUP BY o_custkey HAVING COUNT(DISTINCT o_orderkey) <> 1
"""


@_register(
    "consistency_check",
    _SQL_CONSISTENCY,
    "A1: groupBy + countDistinct + ≠1 filter "
    "(reference bronze_to_silver.py:118-131)",
    retired=True,  # rotated OUT round 10 → quality_expectations_orders (adjudicated ACCEPT in VERDICT r9 Next #1: the expectation engine strictly generalizes this uniqueness probe as one unique(col) rule; the countDistinct primitive stays driver-checked via profile_lineitem's distinct_* columns; flagged: per-key violation ROWS move to the strict local gate)
)
def consistency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _views(spark, sf_dir, ["orders"])["orders"]
    return consistency_violations(o, "o_custkey", "o_orderkey")


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag"]
_SQL_PROFILE = "SELECT " + ", ".join(
    f"COUNT({c}) AS count_{c}, COUNT(DISTINCT {c}) AS distinct_{c}, "
    f"MIN({c}) AS min_{c}, MAX({c}) AS max_{c}"
    for c in _PROFILE_COLS
) + " FROM lineitem"


@_register(
    "profile_lineitem",
    _SQL_PROFILE,
    "A4: count/distinct/min/max for every column in ONE aggregate job "
    "(replaces the reference's per-column job loop, data_profiling.py:10-22)",
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _views(spark, sf_dir, ["lineitem"])["lineitem"]
    return profile(li, _PROFILE_COLS)


_DISTINCT_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]
_SQL_DISTINCT_COUNTS = "SELECT " + ", ".join(
    f"COUNT(DISTINCT {c}) AS distinct_{c}" for c in _DISTINCT_COLS
) + " FROM orders"


@_register(
    "distinct_counts_orders",
    _SQL_DISTINCT_COUNTS,
    "A3: per-column distinct counts in one pass (data_profiling.py:1-8)",
    retired=True,  # driver window: per-column distincts oracle-checked via profile_lineitem's distinct_{c}; the countDistinct aggregate primitive stays driver-checked in consistency_check
)
def distinct_counts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _views(spark, sf_dir, ["orders"])["orders"]
    return distinct_counts(o, _DISTINCT_COLS)


_SQL_CLEAN = """
SELECT DISTINCT TRIM(lang) AS lang, TRIM(source) AS source
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
  AND source IS NOT NULL AND n_chars IS NOT NULL
"""


@_register(
    "clean_trim_dedup",
    _SQL_CLEAN,
    "P5+P6+A5: null-row filter → trim → dedup as ONE lazy transform chain "
    "(reference data_cleaning.py runs eager counts per column)",
)
def clean_trim_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _views(spark, sf_dir, ["documents"])["documents"]
    cleaned = trim_strings(drop_null_rows(docs)).select("lang", "source")
    return dedupe_rows(cleaned)


_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
_DOC_STRING_COLS = ["text", "lang", "source"]
_SQL_CLEANING_REPORT = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_{c}"
        for c in _DOC_COLS
    )
    + ", "
    + ", ".join(
        f"CAST(SUM(CASE WHEN {c} IS NOT NULL AND {c} <> TRIM({c}) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_untrimmed_{c}"
        for c in _DOC_STRING_COLS
    )
    + ", CAST((SELECT COUNT(*) FROM (SELECT DISTINCT * FROM documents)) AS BIGINT)"
    "      AS n_distinct_rows"
    + ", CAST(COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM documents))"
    "      AS BIGINT) AS n_duplicate_rows"
    + " FROM documents"
)


@_register(
    "cleaning_report_documents",
    _SQL_CLEANING_REPORT,
    "rows-removed accounting: every count the reference's eager cleaning "
    "loops report (nulls per column, untrimmed strings, duplicate rows — "
    "data_cleaning.py:8-53) in ONE aggregate job",
    retired=True,  # driver window r8: family trade for silver_quality_documents (same cleaning accounting — per-column nulls/trims, duplicate rows — measured via CollectMetrics at ZERO extra scans, and the observe variant additionally round-trips the sink) — adjudicated ACCEPT in VERDICT r7 #1
)
def cleaning_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import removal_accounting

    docs = _views(spark, sf_dir, ["documents"])["documents"]
    return removal_accounting(docs)


# --------------------------------------------------------------------------
# Date parsing (F1/F2 multi-format coalesce chain)
# --------------------------------------------------------------------------

_SQL_PARSE_DATES = """
WITH raw AS (
  SELECT o_orderkey,
         CASE CAST(o_orderkey % 3 AS INT)
           WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
           WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
           ELSE strftime(o_orderdate, '%m-%d-%Y')
         END AS raw_date
  FROM orders
)
SELECT o_orderkey, raw_date,
       CAST(COALESCE(try_strptime(raw_date, '%Y-%m-%d'),
                     try_strptime(raw_date, '%d/%m/%Y'),
                     try_strptime(raw_date, '%m-%d-%Y')) AS DATE) AS parsed_date
FROM raw
"""


@_register(
    "parse_dates_multiformat",
    _SQL_PARSE_DATES,
    "F1/F2: first-match-wins multi-format date parse "
    "(reference bronze_to_silver.py:43-50; format order is the contract)",
)
def parse_dates_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _views(spark, sf_dir, ["orders"])["orders"]
    raw = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "dd/MM/yyyy"))
        .otherwise(F.date_format("o_orderdate", "MM-dd-yyyy"))
    )
    base = o.select("o_orderkey", raw.alias("raw_date"))
    return base.withColumn("parsed_date", parse_date_multi("raw_date"))


# --------------------------------------------------------------------------
# Latest-snapshot read (A8 scalar subquery) — SQL front door
# --------------------------------------------------------------------------

_SQL_LATEST_SNAPSHOT = """
SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE CAST(o_orderdate AS DATE) =
      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
"""


@_register(
    "latest_snapshot",
    _SQL_LATEST_SNAPSHOT,
    "A8: latest-snapshot scalar subquery (reference bigquery.py:77-85); "
    "Catalyst decorrelates + broadcasts the 1-row max",
)
def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["orders"])
    return spark.sql(_SQL_LATEST_SNAPSHOT)


# --------------------------------------------------------------------------
# Query surface beyond the reference: windows, rollup, set ops, pivot, JSON
# (absent in the reference — SURVEY.md §2.5 — but expected of the engine)
# --------------------------------------------------------------------------

_SQL_TOPK = """
WITH ranked AS (
  SELECT r_name, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY r_name
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
SELECT r_name, c_custkey, c_acctbal, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
"""


@_register(
    "topk_customers_per_region",
    _SQL_TOPK,
    "window top-k per group: row_number over (partition, order) ≤ k",
)
def topk_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["customer", "nation", "region"])
    return spark.sql(_SQL_TOPK)


# Two-phase rollup: aggregate to the finest grouping FIRST, then roll the
# tiny partial-aggregate frame up. Sum/count are decomposable, so results
# are identical to a direct ROLLUP — but the Expand operator (which
# triples its input, one copy per grouping set) runs over |groups| rows
# instead of the full fact table. At 100 TB that's the difference between
# expanding ~billions of rows and expanding a handful.
_SQL_ROLLUP = """
WITH base AS (
  SELECT l_returnflag, l_linestatus,
         COUNT(*) AS pc,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(pc) AS BIGINT) AS n_rows,
       CAST(SUM(sq) AS DOUBLE) AS sum_qty,
       CAST(SUM(rev) AS DOUBLE) AS revenue
FROM base
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@_register(
    "rollup_pricing_summary",
    _SQL_ROLLUP,
    "grouping-set rollup over the TPC-H Q1 pricing aggregates; "
    "pre-aggregated so Expand runs on |groups| rows, not the fact table",
)
def rollup_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(_SQL_ROLLUP)


_SQL_EXCEPT = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
"""


@_register(
    "except_customers_without_orders",
    _SQL_EXCEPT,
    "set op: EXCEPT (distinct) — customers that never ordered",
)
def except_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_SQL_EXCEPT)


_PIVOT_STATUSES = ["O", "F", "P"]
_SQL_PIVOT = "SELECT o_orderpriority, " + ", ".join(
    f'COUNT(*) FILTER (WHERE o_orderstatus = \'{s}\') AS "n_{s}"'
    for s in _PIVOT_STATUSES
) + " FROM orders GROUP BY o_orderpriority"


@_register(
    "pivot_order_status",
    _SQL_PIVOT,
    "pivot: order counts by status per priority (explicit value list so "
    "the plan needs no extra distinct pass)",
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _views(spark, sf_dir, ["orders"])["orders"]
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _PIVOT_STATUSES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in _PIVOT_STATUSES],
    )


_SQL_JSON = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


@_register(
    "json_extract_events",
    _SQL_JSON,
    "semi-structured access: JSON path extraction from a string column "
    "(the reference flattens nested JSON at ingest — F12)",
    retired=True,  # rotated OUT round 11 → pagerank_centrality (adjudicated ACCEPT in VERDICT r10 Next #4: get_json_object is a Catalyst built-in whose engine-side content is one cast + one aggregate, both driver-covered elsewhere; extraction semantics stay pinned vs DuckDB json_extract_string in the strict local gate — flagged: JSON-extraction family keeps zero driver rows)
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _views(spark, sf_dir, ["events"])["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
    )


_SQL_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY date_trunc('hour', ts)
"""


@_register(
    "hourly_events_rollup",
    _SQL_HOURLY,
    "time-bucketed aggregation (batch twin of the streaming tumbling window)",
    retired=True,  # driver window: subsumed by streaming_watermarked_rollup (same hourly rollup oracle, via the retired streaming_hourly_rollup batch twin)
)
def hourly_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _views(spark, sf_dir, ["events"])["events"]
    return e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


_QUANTILE_PS = [0.25, 0.5, 0.75, 0.95]

# ROUND(…, 6) on both sides: Spark and DuckDB use the same linear
# interpolation definition but may associate the fp arithmetic
# differently; 6 decimals removes the last-ulp hazard.
_SQL_QUANTILES = "SELECT " + ", ".join(
    f"{_R(f'quantile_cont(l_quantity, {p})', 6)} AS qty_p{int(p * 100)}, "
    f"{_R(f'quantile_cont(l_extendedprice, {p})', 6)} AS price_p{int(p * 100)}"
    for p in _QUANTILE_PS
) + " FROM lineitem"


@_register(
    "quantiles_lineitem",
    _SQL_QUANTILES,
    "exact interpolated quantiles (profiling extension of A4), computed "
    "distributed: per-column value histogram → range-partitioned rank "
    "intervals → broadcast rank probe → interpolate. F.percentile would "
    "buffer the whole column in one aggregation task — fine at test SF, "
    "an OOM at 100 TB; this plan's peak task state is a histogram slice",
    retired=True,  # driver window: subsumed by quantiles_by_event_type (both delegate to _quantile_values; the grouped form runs the identical core with a real key)
)
def quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _views(spark, sf_dir, ["lineitem"])["lineitem"]
    qty = exact_quantiles(li, "l_quantity", _QUANTILE_PS, "qty")
    price = exact_quantiles(li, "l_extendedprice", _QUANTILE_PS, "price")
    order = [
        f"{pre}_p{int(p * 100)}" for p in _QUANTILE_PS for pre in ("qty", "price")
    ]
    return qty.crossJoin(price).select(*order)


# --------------------------------------------------------------------------
# Temporal operators Spark lacks as built-ins (operators/temporal.py):
# distributed as-of join + gaps-and-islands sessionization
# --------------------------------------------------------------------------

_SQL_ASOF = """
WITH c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_event_id
  FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id, e.ts, e.event_type, c.click_event_id, c.click_ts
FROM events e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
"""


@_register(
    "asof_last_click",
    _SQL_ASOF,
    "as-of join: each event paired with the user's most recent STRICTLY "
    "prior click — union+window formulation (one shuffle on the key, no "
    "range-join candidate explosion); DuckDB's native ASOF JOIN is the oracle",
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    e = _views(spark, sf_dir, ["events"])["events"]
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    left = e.select("event_id", "user_id", "ts", "event_type")
    return asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="click_ts", strict=True
    )


_SQL_RANGE_JOIN = """
SELECT e.event_id, e.user_id, e.ts, CAST(COUNT(c.ts) AS BIGINT) AS n_clicks_1h
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts < e.ts
GROUP BY e.event_id, e.user_id, e.ts
"""


@_register(
    "range_join_clicks_before_purchase",
    _SQL_RANGE_JOIN,
    "bucketized range join: clicks in the hour before each purchase, per "
    "user — window-width binning + equi-join on (key, bucket) instead of a "
    "per-key cartesian theta-join; zero-match rows kept",
    retired=True,  # driver window r7: contract subsumption by streaming_interval_join (the streaming query's oracle IS this batch range-join SQL, so the driver keeps checking the identical pair semantics; the bucketization stays bench-timed + plan-pinned) — flagged, adjudicated ACCEPT in VERDICT r6 #1
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join_count

    e = _views(spark, sf_dir, ["events"])["events"]
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return range_join_count(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        window_seconds=3600,
        count_name="n_clicks_1h",
    )


_SESSION_GAP_S = 6 * 3600

_SQL_SESSIONIZE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM marked
)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_idx
"""


@_register(
    "sessionize_events",
    _SQL_SESSIONIZE,
    f"gaps-and-islands sessionization ({_SESSION_GAP_S // 3600}h inactivity "
    "gap): lag → marker → running sum → per-session aggregate, ONE shuffle "
    "on the user key reused by window and aggregate (batch twin of a "
    "streaming session window)",
    retired=True,  # driver window: subsumed by session_plan_overlap (calls sessionize verbatim; its oracle embeds this SQL)
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import sessionize

    e = _views(spark, sf_dir, ["events"])["events"]
    return sessionize(
        e.select("user_id", "ts", "value"),
        key_col="user_id",
        ts_col="ts",
        gap_seconds=_SESSION_GAP_S,
        value_col="value",
    )
