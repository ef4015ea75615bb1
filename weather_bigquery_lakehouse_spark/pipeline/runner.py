"""Pipeline runner: bronze → silver → gold (→ maintenance), one stage path.

Replaces the reference's Airflow DAG sequencing
(airflow/dags/bigquery_weather_dag.py:14-66 —
`bronze_ingest >> bronze_to_silver >> silver_to_gold`, ``@daily``,
``catchup=False``, 1 retry / 5 min). The ordering is DATA, not code: a
scheduler-agnostic :class:`DagSpec` (task ids + dependency edges +
schedule/retry/catchup flags) drives the runner, and any scheduler
(Airflow, cron, Trigger.AvailableNow) can render the same spec into its
own DAG without the engine caring.

Each task id maps to one stage in :data:`STAGES`, and every stage reads
its inputs from the zones. So :func:`run_pipeline` (all daily tasks in
one session) and :func:`execute_stage` (one task per scheduler
invocation) run the same code. Silver reads and overwrites only the run
date's partition and gold appends only that date's fact increment; the
gold dims are rebuilt from all retained silver, and maintenance touches
every date.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..io.catalog import GoldCatalog
from . import bronze, gold, silver


@dataclass(frozen=True)
class TaskSpec:
    task_id: str
    upstream: tuple[str, ...] = ()
    cadence: str = "daily"  # maintenance runs on its own (slower) cadence


@dataclass(frozen=True)
class DagSpec:
    """Scheduler-agnostic DAG description — the flags mirror the
    reference DAG's (schedule/catchup/retries/retry_delay,
    airflow/dags/bigquery_weather_dag.py:9-22)."""

    dag_id: str
    schedule: str
    catchup: bool
    retries: int
    retry_delay_minutes: int
    tasks: tuple[TaskSpec, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        ids = [t.task_id for t in self.tasks]
        if len(ids) != len(set(ids)):
            raise ValueError(f"duplicate task ids in {self.dag_id}")
        known = set(ids)
        for t in self.tasks:
            missing = set(t.upstream) - known
            if missing:
                raise ValueError(f"{t.task_id} depends on unknown {missing}")
        self.topological_order()  # raises on cycles

    def topological_order(self) -> list[str]:
        """Deterministic topological sort (declaration order among
        ready tasks)."""
        remaining = {t.task_id: set(t.upstream) for t in self.tasks}
        order: list[str] = []
        while remaining:
            ready = [t.task_id for t in self.tasks
                     if t.task_id in remaining and not remaining[t.task_id]]
            if not ready:
                raise ValueError(f"cycle in {self.dag_id}: {sorted(remaining)}")
            for task_id in ready:
                order.append(task_id)
                del remaining[task_id]
                for deps in remaining.values():
                    deps.discard(task_id)
        return order


#: The daily lakehouse cadence. Two independent bronze landings fan in to
#: the silver transform; maintenance hangs off gold on a weekly cadence.
PIPELINE_DAG = DagSpec(
    dag_id="weather_lakehouse_daily",
    schedule="@daily",
    catchup=False,
    retries=1,
    retry_delay_minutes=5,
    tasks=(
        TaskSpec("bronze_ingest_cities"),
        TaskSpec("bronze_ingest_weather"),
        TaskSpec("silver_transform", ("bronze_ingest_cities", "bronze_ingest_weather")),
        TaskSpec("gold_load", ("silver_transform",)),
        TaskSpec("zone_maintenance", ("gold_load",), cadence="weekly"),
    ),
)
PIPELINE_DAG.validate()
_DAILY = {t.task_id: t.upstream for t in PIPELINE_DAG.tasks if t.cadence == "daily"}


def _bronze_ingest_cities(spark, zone_dir, run_date, city_records, **_) -> None:
    bronze.land_records(
        spark, city_records or [], bronze.CITY_PAYLOAD, zone_dir,
        "ibge_cities", "IBGE API", run_date,
    )


def _bronze_ingest_weather(spark, zone_dir, run_date, forecast_records, **_) -> None:
    bronze.land_records(
        spark, forecast_records or [], bronze.FORECAST_PAYLOAD, zone_dir,
        "cptec_weather", "CPTEC API", run_date,
    )


def _silver_transform(spark, zone_dir, run_date, **_) -> None:
    silver.silver_weather(spark, zone_dir, run_date)
    silver.silver_cities(spark, zone_dir, run_date)
    silver.silver_cptec_cities(spark, zone_dir, run_date)


def _gold_load(spark, zone_dir, warehouse_dir, run_date, **_) -> None:
    gold.load_gold(spark, GoldCatalog(warehouse_dir), zone_dir, run_date)


def _zone_maintenance(spark, zone_dir, keep_dates, **_) -> dict:
    return run_maintenance(spark, zone_dir, keep_dates)


#: task id -> its stage. Every stage reads its inputs from the zones (the
#: bronze landings from the records handed in), so each task can run in
#: its own process. Stages look the tier functions up as module
#: attributes at call time.
STAGES = {
    "bronze_ingest_cities": _bronze_ingest_cities,
    "bronze_ingest_weather": _bronze_ingest_weather,
    "silver_transform": _silver_transform,
    "gold_load": _gold_load,
    "zone_maintenance": _zone_maintenance,
}


def execute_stage(
    spark: SparkSession,
    task_id: str,
    zone_dir: str,
    warehouse_dir: str,
    run_date: str | None = None,
    city_records: list[dict] | None = None,
    forecast_records: list[dict] | None = None,
    keep_dates: list[str] | None = None,
) -> dict | None:
    """Execute ONE pipeline task — the entrypoint an external scheduler
    (e.g. the Airflow DAG emitted by ``pipeline.airflow_emit``) binds each
    task to, and the one :func:`run_pipeline` loops over. Returns the
    stage's result (maintenance: its reports; the other stages: None)."""
    if task_id not in STAGES:
        raise ValueError(f"unknown task_id {task_id!r}; known: {sorted(STAGES)}")
    return STAGES[task_id](
        spark,
        zone_dir=zone_dir,
        warehouse_dir=warehouse_dir,
        run_date=run_date or dt.date.today().isoformat(),
        city_records=city_records,
        forecast_records=forecast_records,
        keep_dates=keep_dates,
    )


def run_pipeline(
    spark: SparkSession,
    zone_dir: str,
    warehouse_dir: str,
    city_records: list[dict],
    forecast_records: list[dict],
    run_date: str | None = None,
    dag: DagSpec = PIPELINE_DAG,
) -> dict:
    """One full daily run: :func:`execute_stage` for each daily task of
    ``dag``, in topological order. ``city_records``/``forecast_records``
    come from the injected sources (HTTP in production, fixtures in
    tests). Weekly-cadence tasks (maintenance) are skipped here —
    schedulers run them via :func:`run_maintenance` at their own cadence.
    Returns the gold ``catalog`` (None when the dag has no gold task) and
    the ``executed`` task ids.
    """
    run_date = run_date or dt.date.today().isoformat()
    # Fail fast instead of mid-run: every daily task needs a daily stage,
    # and the tasks it reads from (its upstreams in PIPELINE_DAG) must run
    # too. A bronze-only re-landing dag is fine.
    dag.validate()
    cadences = {t.task_id: t.cadence for t in dag.tasks}
    daily = [t for t in dag.topological_order() if cadences[t] == "daily"]
    unknown = set(daily) - set(_DAILY)
    if unknown:
        raise ValueError(
            f"dag {dag.dag_id}: daily task(s) {sorted(unknown)} have no "
            f"executable daily stage; daily stages: {sorted(_DAILY)}"
        )
    for task_id in daily:
        missing = set(_DAILY[task_id]) - set(daily)
        if missing:
            raise ValueError(
                f"dag {dag.dag_id}: {task_id} requires {sorted(missing)} — "
                "it reads their outputs from the zones"
            )
    for task_id in daily:
        execute_stage(
            spark, task_id, zone_dir, warehouse_dir, run_date,
            city_records, forecast_records,
        )
    return {
        "catalog": GoldCatalog(warehouse_dir) if "gold_load" in daily else None,
        "executed": daily,
    }


def run_maintenance(
    spark: SparkSession,
    zone_dir: str,
    keep_dates: list[str] | None = None,
) -> dict:
    """Nightly zone maintenance after the daily run: compact each zone's
    small files and, when a retention window is given, expire
    ``_ingestion_date`` partitions outside it. Kept separate from
    ``run_pipeline`` so a scheduler can run it at a different cadence (a
    daily load with weekly compaction is the common shape).

    Policy, not mechanism: retention applies to every entity zone
    (``zones/{tier}/{entity}``); compaction only to parquet zones
    (silver and up). Bronze lands raw JSON and is the audit trail — it
    expires, but it is never rewritten.

    ``zone_dir`` is a local path or a ``file:`` URI; another scheme raises
    ``ValueError`` (the zones are walked with ``os`` calls).
    """
    import os

    from ..io.maintenance import compact_zone, expire_partitions, local_zone_path

    reports: dict[str, object] = {}
    zone_dir = local_zone_path(zone_dir)

    def _entity_zones(root: str):
        for tier in sorted(os.listdir(root)):
            tpath = os.path.join(root, tier)
            if not os.path.isdir(tpath):
                continue
            for entity in sorted(os.listdir(tpath)):
                # underscore-prefixed dirs are metadata tables (_quality:
                # one row per run, nothing to compact or expire) — Spark's
                # own file index ignores _-prefixed paths, so treating one
                # as an entity zone would fail the read outright
                if entity.startswith("_"):
                    continue
                epath = os.path.join(tpath, entity)
                if os.path.isdir(epath):
                    yield f"{tier}/{entity}", epath

    if not os.path.isdir(zone_dir):
        return reports
    for name, zpath in _entity_zones(zone_dir):
        if keep_dates is not None:
            dropped = expire_partitions(zpath, "_ingestion_date", keep_dates)
            if dropped:
                reports[f"{name}:expired"] = dropped
        has_parquet = any(
            f.endswith(".parquet") for _, _, fs in os.walk(zpath) for f in fs
        )
        if has_parquet:
            reports[f"{name}:compaction"] = compact_zone(spark, zpath)
    return reports
