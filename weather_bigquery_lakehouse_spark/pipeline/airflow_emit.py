"""Render :data:`runner.PIPELINE_DAG` into a real Airflow DAG file.

The engine keeps its orchestration as DATA (:class:`runner.DagSpec`); this
module turns that spec into the file a user drops into their Airflow
``dags/`` folder — the deployable twin of the reference DAG
(reference airflow/dags/bigquery_weather_dag.py:14-66: ``@dag`` decorator,
``@daily`` schedule, ``catchup=False``, default_args with 1 retry / 5 min
``retry_delay``, task objects chained with ``>>``).

Differences by design from the reference file:
  * tasks are ``PythonOperator``s bound to ``execute_airflow_task`` (each
    Airflow worker process runs exactly one engine stage; inputs come from
    the zones, not in-process handoff) instead of ``SparkSubmitOperator``s
    with inline s3a credentials — endpoint/keys belong in the session
    builder config (session.py), never in a DAG file;
  * non-daily tasks (``zone_maintenance``, cadence="weekly") render into a
    SEPARATE ``@weekly`` DAG in the same file, mirroring the runner's
    :func:`runner.run_maintenance` split, rather than being silently
    skipped.

The emitted text is generated — Airflow itself is not imported here, so
the renderer is testable in this container (no airflow package); the
render test compiles the output and asserts the dependency chain + flags.
"""

from __future__ import annotations

from .runner import DagSpec

_HEADER = '''"""Generated Airflow DAG — rendered from the {dag_id} DagSpec by
weather_bigquery_lakehouse_spark.pipeline.airflow_emit.render_airflow_dag.
Regenerate instead of hand-editing; the DagSpec is the source of truth."""

from datetime import datetime, timedelta
from functools import partial

from airflow.decorators import dag
from airflow.operators.python import PythonOperator

from weather_bigquery_lakehouse_spark.pipeline.airflow_emit import (
    execute_airflow_task,
)

default_args = {{
    "owner": "airflow",
    "retries": {retries},
    "retry_delay": timedelta(minutes={retry_delay_minutes}),
}}
'''

_DAG_TEMPLATE = '''

@dag(
    dag_id="{dag_id}",
    start_date=datetime(2024, 1, 1),
    schedule="{schedule}",
    catchup={catchup},
    default_args=default_args,
    tags=["spark", "weather", "lakehouse"],
)
def {fn_name}():
{body}

{fn_name}()
'''


def _task_lines(task_ids: list[str]) -> list[str]:
    # op_kwargs is an Airflow template field, so "{{ ds }}" resolves to the
    # run's LOGICAL date at execution time and reaches execute_airflow_task
    # directly — without it every scheduled run would fall back to
    # date.today(), which is wrong for @daily runs (they execute the day
    # AFTER their data interval) and for post-midnight retries.
    return [
        f'    {tid} = PythonOperator(\n'
        f'        task_id="{tid}",\n'
        f'        python_callable=partial(execute_airflow_task, "{tid}"),\n'
        f'        op_kwargs={{"run_date": "{{{{ ds }}}}"}},\n'
        f'    )'
        for tid in task_ids
    ]


def render_airflow_dag(dag: DagSpec) -> str:
    """DagSpec → Airflow DAG file text. Daily tasks keep their declared
    dependency edges (every edge rendered as ``upstream >> task``); each
    non-daily cadence gets its own DAG with that cadence as the schedule
    (cross-cadence edges can't exist inside one Airflow DAG — the weekly
    DAG documents them as comments instead)."""
    dag.validate()
    bad = [
        name
        for name in [dag.dag_id, *(t.task_id for t in dag.tasks)]
        if not name.isidentifier()
    ]
    if bad:
        # ids become Python identifiers in the emitted file — a dash or
        # space would render a SyntaxError'd dags/ module
        raise ValueError(f"dag/task ids must be Python identifiers: {bad}")
    out = [
        _HEADER.format(
            dag_id=dag.dag_id,
            retries=dag.retries,
            retry_delay_minutes=dag.retry_delay_minutes,
        )
    ]
    by_cadence: dict[str, list] = {}
    for t in dag.tasks:
        by_cadence.setdefault(t.cadence, []).append(t)

    daily = by_cadence.pop("daily", [])
    daily_ids = {t.task_id for t in daily}
    body = _task_lines([t.task_id for t in daily])
    edges = [
        f"    {up} >> {t.task_id}"
        for t in daily
        for up in t.upstream
        if up in daily_ids
    ]
    out.append(
        _DAG_TEMPLATE.format(
            dag_id=dag.dag_id,
            schedule=dag.schedule,
            catchup=dag.catchup,
            fn_name=dag.dag_id,
            # a dag whose tasks are all non-daily still renders valid python
            body="\n".join(body + edges) or "    pass",
        )
    )

    for cadence, tasks in sorted(by_cadence.items()):
        cadence_ids = {t.task_id for t in tasks}
        body = _task_lines([t.task_id for t in tasks])
        notes = [
            f"    # upstream {up} runs in the {dag.dag_id} DAG "
            f"(cross-cadence dependency)"
            for t in tasks
            for up in t.upstream
            if up not in cadence_ids
        ]
        edges = [
            f"    {up} >> {t.task_id}"
            for t in tasks
            for up in t.upstream
            if up in cadence_ids
        ]
        out.append(
            _DAG_TEMPLATE.format(
                dag_id=f"{dag.dag_id}_{cadence}",
                schedule=f"@{cadence}",
                catchup=dag.catchup,
                fn_name=f"{dag.dag_id}_{cadence}",
                body="\n".join(notes + body + edges),
            )
        )
    return "".join(out)


def write_airflow_dag(dag: DagSpec, path: str) -> str:
    """Render and write the DAG file (returns the text for convenience)."""
    text = render_airflow_dag(dag)
    with open(path, "w") as f:
        f.write(text)
    return text


def execute_airflow_task(task_id: str, run_date: str | None = None) -> None:
    """Process-level entrypoint the emitted DAG binds every task to.

    Each Airflow worker invocation builds its own session and runs one
    stage via :func:`runner.execute_stage`; deployment config comes from
    the environment (``WBL_ZONE_DIR``, ``WBL_WAREHOUSE_DIR``,
    ``WBL_RETENTION_DATES`` as a comma list, optional). ``run_date`` is
    the scheduler's logical date — the emitted DAG templates ``{{ ds }}``
    into it via ``op_kwargs``; ``WBL_RUN_DATE`` remains as the env
    override for non-Airflow invocations. Bronze payloads
    come from the HTTP sources (reference data_ingestion.py semantics —
    failures drop with accounting, they don't abort the landing)."""
    import os

    from .. import driver_cds
    from ..session import build_session
    from .runner import execute_stage

    zone_dir = os.environ["WBL_ZONE_DIR"]
    warehouse_dir = os.environ["WBL_WAREHOUSE_DIR"]
    keep = os.environ.get("WBL_RETENTION_DATES")
    city_records: list[dict] | None = None
    forecast_records: list[dict] | None = None
    if task_id == "bronze_ingest_cities":
        from .sources import CitySource, http_json_fetch

        src = CitySource(http_json_fetch())
        names = [
            x for x in os.environ.get("WBL_CITY_NAMES", "").split(",") if x
        ]
        city_records = src.city_rows(
            names, base_url=os.environ.get("WBL_CITY_API", "")
        )
    elif task_id == "bronze_ingest_weather":
        from .sources import ForecastSource, http_json_fetch

        src = ForecastSource(http_json_fetch())
        ids = [int(x) for x in os.environ.get("WBL_CITY_IDS", "").split(",") if x]
        forecast_records = src.forecast_rows(
            ids, base_url=os.environ.get("WBL_FORECAST_API", "")
        )
    from pyspark.sql import SparkSession

    # build_session is getOrCreate: only stop a session THIS call created —
    # stopping a pre-existing one would kill the hosting process's Spark
    # (e.g. an Airflow worker running several PythonOperators in-process).
    # getActiveSession() alone is THREAD-local; getOrCreate also reuses the
    # process-global default session created by another thread, so both
    # must be absent before this call can claim ownership.
    owned = (
        SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    spark = build_session(app_name=f"wbl_{task_id}")
    try:
        execute_stage(
            spark,
            task_id,
            zone_dir,
            warehouse_dir,
            # logical/run date: op_kwargs-templated "{{ ds }}" when run
            # under the emitted DAG, WBL_RUN_DATE otherwise; without it a
            # post-midnight retry would stamp the next calendar day and
            # split the run across date partitions
            run_date=run_date or os.environ.get("WBL_RUN_DATE") or None,
            city_records=city_records,
            forecast_records=forecast_records,
            keep_dates=keep.split(",") if keep else None,
        )
    finally:
        if owned:
            # Airflow's forking task runner ends the task process with
            # os._exit, which skips atexit hooks: a driver JVM that is
            # writing its class-data-sharing archive is ended and the
            # archive published here.
            driver_cds.stop(spark)
