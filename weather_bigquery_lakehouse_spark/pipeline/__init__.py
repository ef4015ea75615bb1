"""The medallion pipeline: bronze ingest → silver clean → gold star schema.

Re-expresses the reference's three DAG tasks
(reference airflow/dags/bigquery_weather_dag.py:24-63) as engine library
calls sequenced by `runner.run_pipeline`. Each task is one stage of
`runner.STAGES`, reading its inputs from the zones (silver the run date's
bronze partition, gold silver's parquet), whether the tasks share a
session or each runs in its own process.
Orchestration is plain Python — the reference's Airflow wiring is
deployment detail, not engine capability.
"""

from .runner import run_pipeline
