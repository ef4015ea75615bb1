"""End-to-end pipeline test: fixtures → bronze → silver → gold, asserting
the reference's star-schema contracts + this engine's idempotency upgrade."""

from __future__ import annotations

import hashlib
import re
import uuid

import pytest
from pyspark.sql import functions as F

from weather_bigquery_lakehouse_spark.pipeline import run_pipeline
from weather_bigquery_lakehouse_spark.pipeline.sources import (
    CitySource,
    fixture_city_rows,
    fixture_forecast_rows,
)


GOLD_TABLES = (
    "dim_city", "dim_update_date", "dim_forecast_date", "dim_weather_condition",
    "fact_weather",
)


def _gold(spark, result) -> dict:
    """The run's five gold tables, read through the catalog it returns."""
    return {name: result["catalog"].read_table(spark, name) for name in GOLD_TABLES}


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lakehouse")
    return run_pipeline(
        spark,
        zone_dir=str(base / "zones"),
        warehouse_dir=str(base / "warehouse"),
        city_records=fixture_city_rows(40),
        forecast_records=fixture_forecast_rows(40),
        run_date="2024-03-25",
    )


def test_gold_tables_exist(result, spark):
    t = _gold(spark, result)
    assert t["dim_city"].count() > 0
    assert t["dim_update_date"].count() >= 1
    assert t["dim_forecast_date"].count() == 6  # 6-day horizon
    assert t["dim_weather_condition"].count() >= 2
    assert t["fact_weather"].count() > 0


def test_fact_joins_every_dim_losslessly(result, spark):
    """The recomputed-FK contract: fact ⋈ each dim on the surrogate key
    keeps every fact row (reference invariant, silver_to_gold.py:158-166)."""
    t = _gold(spark, result)
    fact = t["fact_weather"]
    n = fact.count()
    assert fact.join(t["dim_city"], "id_city").count() == n
    assert fact.join(t["dim_forecast_date"], "id_forecast_date").count() == n
    assert fact.join(t["dim_weather_condition"], "id_weather_condition").count() == n
    assert fact.join(t["dim_update_date"], "id_update_date").count() == n


def test_key_format_is_sha256_hex(result, spark):
    row = _gold(spark, result)["dim_city"].first()
    assert len(row["id_city"]) == 64
    int(row["id_city"], 16)  # parses as hex


def test_mixed_date_formats_collapsed(result, spark):
    """All three atualizado_em formats must parse to the same date."""
    dates = [
        r["atualizado_em"]
        for r in _gold(spark, result)["dim_update_date"].collect()
    ]
    assert [str(d) for d in dates] == ["2024-03-25"]


def test_cleaning_removed_whitespace_and_dups(result, spark):
    cities = _gold(spark, result)["dim_city"]
    names = [r["nome"] for r in cities.collect()]
    assert all(n == n.strip() for n in names)
    assert len(names) == len(set(names))


def test_fact_append_is_idempotent(spark, tmp_path):
    """Re-running the SAME day must not grow the fact table — the
    documented fix for the reference's rerun double-load (SURVEY.md §7)."""
    kwargs = dict(
        zone_dir=str(tmp_path / "zones"),
        warehouse_dir=str(tmp_path / "warehouse"),
        city_records=fixture_city_rows(10),
        forecast_records=fixture_forecast_rows(10),
        run_date="2024-03-25",
    )
    first = run_pipeline(spark, **kwargs)
    n1 = first["catalog"].read_table(spark, "fact_weather").count()
    second = run_pipeline(spark, **kwargs)
    n2 = second["catalog"].read_table(spark, "fact_weather").count()
    assert n1 == n2 > 0


def test_silver_run_persists_quality_table(spark, tmp_path):
    """Every silver run must land per-stage cleaning accounting under
    silver/_quality/<entity> — the persisted form of the per-step counts
    the reference prints (data_cleaning.py:8-47): rows in/out, nulls per
    column, untrimmed strings, duplicate rows; append keeps run history."""
    kwargs = dict(
        zone_dir=str(tmp_path / "zones"),
        warehouse_dir=str(tmp_path / "warehouse"),
        city_records=fixture_city_rows(10),
        forecast_records=fixture_forecast_rows(10),
    )
    run_pipeline(spark, run_date="2024-03-25", **kwargs)
    for entity in ("cptec_weather", "ibge_cities", "cptec_cities"):
        q = spark.read.parquet(str(tmp_path / "zones" / "silver" / "_quality" / entity))
        rows = q.collect()
        assert len(rows) == 1, entity
        r = rows[0]
        assert r["entity"] == entity
        assert str(r["_processing_date"]) == "2024-03-25"
        assert r["rows_in"] >= r["rows_out"] > 0
        assert r["n_duplicate_rows"] >= 0
        # at least one per-column null counter and one trim counter exist
        assert any(c.startswith("n_null_") for c in q.columns)
        assert any(c.startswith("n_untrimmed_") for c in q.columns)
    # a second run APPENDS (history preserved, one row per run)
    run_pipeline(spark, run_date="2024-03-26", **kwargs)
    q = spark.read.parquet(str(tmp_path / "zones" / "silver" / "_quality" / "cptec_weather"))
    dates = sorted(str(r["_processing_date"]) for r in q.select("_processing_date").collect())
    assert dates == ["2024-03-25", "2024-03-26"]


def test_second_day_preserves_first_days_partitions(spark, tmp_path):
    """Day-2 ingestion must NOT delete day-1 bronze/silver partitions.
    Overwrite+partitionBy under static partition-overwrite drops every
    existing partition; the engine pins partitionOverwriteMode=dynamic so
    an overwrite only replaces the partitions present in the increment."""
    kwargs = dict(
        zone_dir=str(tmp_path / "zones"),
        warehouse_dir=str(tmp_path / "warehouse"),
        city_records=fixture_city_rows(10),
        forecast_records=fixture_forecast_rows(10),
    )
    run_pipeline(spark, run_date="2024-03-25", **kwargs)
    run_pipeline(spark, run_date="2024-03-26", **kwargs)
    for tier, entity in [
        ("bronze", "cptec_weather"),
        ("bronze", "ibge_cities"),
        ("silver", "cptec_weather"),
        ("silver", "ibge_cities"),
    ]:
        fmt = "json" if tier == "bronze" else "parquet"
        df = spark.read.format(fmt).load(str(tmp_path / "zones" / tier / entity))
        dates = {str(r["_ingestion_date"]) for r in df.select("_ingestion_date").distinct().collect()}
        assert dates == {"2024-03-25", "2024-03-26"}, f"{tier}/{entity}: {dates}"


DAYS = ("2024-03-25", "2024-03-26")
SILVER_ENTITIES = ("cptec_weather", "ibge_cities", "cptec_cities")


def _partition_files(zone, entity, date):
    part = zone / "silver" / entity / f"_ingestion_date={date}"
    return {f.name: f.stat().st_mtime_ns for f in part.iterdir()}


@pytest.fixture(scope="module")
def two_days(spark, tmp_path_factory):
    """Day 1, day 2, then day 2 again (the DAG's retry), each day's
    forecast horizon starting at its own date. Day 2's feed lacks CPTEC
    id 4703, as when that city's fetch fails."""
    from weather_bigquery_lakehouse_spark.io.catalog import GoldCatalog

    base = tmp_path_factory.mktemp("two_days")
    zone, wh = base / "zones", base / "warehouse"
    cities = fixture_city_rows(10)
    forecasts = {d: fixture_forecast_rows(10, ingestion_date=d) for d in DAYS}
    forecasts[DAYS[1]] = [r for r in forecasts[DAYS[1]] if r["codigo"] != 4703]

    def run(date):
        run_pipeline(spark, str(zone), str(wh), cities, forecasts[date], date)
        fact = GoldCatalog(str(wh)).read_table(spark, "fact_weather")
        return sorted(map(tuple, fact.collect()))

    run(DAYS[0])
    day1_files = {e: _partition_files(zone, e, DAYS[0]) for e in SILVER_ENTITIES}
    fact_day2 = run(DAYS[1])
    fact_retry = run(DAYS[1])
    return dict(
        zone=zone, wh=str(wh), cities=cities, forecasts=forecasts,
        day1_files=day1_files, fact_day2=fact_day2, fact_retry=fact_retry,
    )


def test_two_day_rerun_keeps_gold_keys_unique(spark, two_days):
    """Day N must not see earlier days' silver rows: when it did, dim_city
    held N² rows per city pair and the fact increment was appended once
    per repeated dim_city row. After day 1, day 2 and a retried day 2,
    every gold key is unique and every fact row joins exactly one row of
    each dim, also day 1's rows for the city missing from day 2."""
    from weather_bigquery_lakehouse_spark.io.catalog import GoldCatalog

    cat = GoldCatalog(two_days["wh"])
    dim_city = cat.read_table(spark, "dim_city")
    assert dim_city.where("id_cptec = 4703").count() == 1
    assert dim_city.groupBy("id_ibge", "id_cptec").count().where("count > 1").count() == 0
    fact = cat.read_table(spark, "fact_weather")
    dates = {str(r[0]) for r in fact.select("_ingestion_date").distinct().collect()}
    assert dates == set(DAYS)
    assert fact.groupBy("id_fact", "_ingestion_date").count().where("count > 1").count() == 0
    for dim, key in [
        ("dim_city", "id_city"),
        ("dim_update_date", "id_update_date"),
        ("dim_forecast_date", "id_forecast_date"),
        ("dim_weather_condition", "id_weather_condition"),
    ]:
        per_key = cat.read_table(spark, dim).groupBy(key).count()
        joined = fact.join(per_key, key, "left")
        assert joined.where("count IS NULL OR count != 1").count() == 0, dim
    assert two_days["fact_retry"] == two_days["fact_day2"]


def test_day_two_silver_touches_only_its_partition(spark, two_days):
    """Silver reads only the run date's bronze partition and overwrites
    only that silver partition: day 2 (and its retry) leave day 1's silver
    files as they were, and the day-2 `_quality` rows count day-2 input
    only."""
    zone = two_days["zone"]
    for entity in SILVER_ENTITIES:
        files = _partition_files(zone, entity, DAYS[0])
        assert files == two_days["day1_files"][entity], entity
    forecasts = two_days["forecasts"][DAYS[1]]
    rows_in = {
        "cptec_weather": sum(len(r["clima"]) for r in forecasts),
        "ibge_cities": len(two_days["cities"]),
        "cptec_cities": len(forecasts),
    }
    for entity, expected in rows_in.items():
        q = spark.read.parquet(str(zone / "silver" / "_quality" / entity))
        got = [r["rows_in"] for r in q.where(F.col("_processing_date") == DAYS[1]).collect()]
        assert got == [expected, expected], entity


def test_silver_quality_writes_one_file_per_run(spark, tmp_path):
    """Each silver run appends its 1-row `_quality` report as one parquet
    file, not that file plus an empty one."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import execute_stage

    zone, wh = tmp_path / "zones", str(tmp_path / "warehouse")
    for date in DAYS:
        records = dict(
            city_records=fixture_city_rows(5),
            forecast_records=fixture_forecast_rows(5, ingestion_date=date),
        )
        for task in ("bronze_ingest_cities", "bronze_ingest_weather", "silver_transform"):
            execute_stage(spark, task, str(zone), wh, run_date=date, **records)
    for entity in SILVER_ENTITIES:
        quality = zone / "silver" / "_quality" / entity
        assert len(list(quality.glob("*.parquet"))) == 2, entity


def test_uri_warehouse_runs_pipeline_and_maintenance(spark, tmp_path, monkeypatch):
    """A warehouse given as a URI (file:// here; s3a:// takes the same
    Hadoop FS path) runs two days and maintenance: the gold keys stay
    unique, and nothing lands under the working directory."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import run_maintenance

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    zone = str(tmp_path / "zones")
    wh = "file://" + str(tmp_path / "warehouse")
    cities = fixture_city_rows(10)
    for date in DAYS:
        forecasts = fixture_forecast_rows(10, ingestion_date=date)
        out = run_pipeline(spark, zone, wh, cities, forecasts, date)
        assert "gold_load" in out["executed"]
    reports = run_maintenance(spark, zone, keep_dates=list(DAYS))
    assert any(k.endswith(":compaction") for k in reports)
    cat = out["catalog"]
    fact = cat.read_table(spark, "fact_weather")
    dates = {str(r[0]) for r in fact.select("_ingestion_date").distinct().collect()}
    assert dates == set(DAYS)
    assert fact.groupBy("id_fact", "_ingestion_date").count().where("count > 1").count() == 0
    dim_city = cat.read_table(spark, "dim_city")
    assert dim_city.groupBy("id_city").count().where("count > 1").count() == 0
    assert fact.join(dim_city, "id_city").count() == fact.count() > 0
    assert list(cwd.iterdir()) == []


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _partition_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)


def test_fact_append_prunes_history_to_increment_dates(spark, two_days, monkeypatch):
    """The idempotent append takes the increment's dates from its caller
    (the daily load passes its run date): it starts no job beyond the
    history read's own schema inference, the existing-keys scan is
    partition-pruned to exactly those dates, and an increment row dated
    outside them fails the write."""
    import datetime

    from weather_bigquery_lakehouse_spark.io.catalog import GoldCatalog
    from weather_bigquery_lakehouse_spark.pipeline.gold import idempotent_fact_append

    cat = GoldCatalog(two_days["wh"])
    written = []
    monkeypatch.setattr(cat, "write_table", lambda df, *a, **k: written.append(df))
    days = [datetime.date.fromisoformat(d) for d in DAYS]
    both = spark.createDataFrame(
        [("k", days[0]), ("k", days[1])], "id_fact string, _ingestion_date date"
    )
    day2 = both.where(F.col("_ingestion_date") == days[1])

    history_read = _jobs_started(
        spark, lambda: cat.read_table(spark, "fact_weather", columns=["id_fact"])
    )
    append = _jobs_started(
        spark, lambda: idempotent_fact_append(spark, cat, day2, "fact_weather", [DAYS[1]])
    )
    assert append == history_read
    idempotent_fact_append(spark, cat, both, "fact_weather", list(DAYS))
    idempotent_fact_append(spark, cat, both, "fact_weather", [DAYS[1]])

    (scan,) = _partition_filters(written[0])
    assert DAYS[1] in scan and DAYS[0] not in scan
    (scan,) = _partition_filters(written[1])
    assert DAYS[0] in scan and DAYS[1] in scan
    assert written[1].count() == 2
    with pytest.raises(Exception, match="outside"):
        written[2].collect()


def test_fixture_forecasts_start_at_ingestion_date():
    rows = fixture_forecast_rows(3, days=6, ingestion_date="2024-03-31")
    # one stamp per city, in the three formats (duplicate records repeat one)
    stamps = {r["codigo"]: r["atualizado_em"] for r in rows}
    assert [stamps[4700 + i] for i in range(3)] == ["2024-03-31", "31/03/2024", "03-31-2024"]
    assert [d["data"] for d in rows[0]["clima"]] == [
        "2024-03-31", "2024-04-01", "2024-04-02", "2024-04-03", "2024-04-04", "2024-04-05",
    ]


def test_source_drop_accounting():
    src = CitySource(fetch_fn=lambda url: (_ for _ in ()).throw(IOError("down")))
    rows = src.city_rows(["a", "b"])
    assert rows == [] and src.stats.dropped == ["a", "b"] and src.stats.requested == 2


def test_forecast_fetch_runs_concurrently_within_bound():
    """S2/S3 contract: fan-out is genuinely concurrent but never exceeds
    max_concurrent in flight (reference Semaphore(20) semantics,
    data_ingestion.py:59-63)."""
    import threading
    import time

    from weather_bigquery_lakehouse_spark.pipeline.sources import ForecastSource

    lock = threading.Lock()
    state = {"inflight": 0, "peak": 0}
    latency = 0.05

    def slow_fetch(url):
        with lock:
            state["inflight"] += 1
            state["peak"] = max(state["peak"], state["inflight"])
        time.sleep(latency)
        with lock:
            state["inflight"] -= 1
        return {"url": url}

    src = ForecastSource(fetch_fn=slow_fetch, max_concurrent=8)
    t0 = time.monotonic()
    rows = src.forecast_rows(list(range(40)))
    wall = time.monotonic() - t0
    assert len(rows) == 40 and src.stats.fetched == 40
    assert state["peak"] <= 8, f"in-flight exceeded bound: {state['peak']}"
    assert state["peak"] >= 4, f"fetches did not overlap: {state['peak']}"
    # sequential would take 40×latency = 2 s; 8-way ≈ ceil(40/8)×latency
    assert wall < 20 * latency, f"wall time {wall:.2f}s is not concurrent"
    # results preserve input order (asyncio.gather contract)
    assert [r["url"] for r in rows] == [f"/{cid}/6" for cid in range(40)]


def test_http_fetch_real_socket_roundtrip():
    """S1–S3 end-to-end over a REAL socket: a local http.server serves
    IBGE-shaped JSON; http_json_fetch drives CitySource through the bounded
    fan-out. Covers success, 404-drop, timeout-drop, and the
    space-in-city-name percent-encoding path — the reference's
    data_ingestion.py:6-79 semantics without network access."""
    import json
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import unquote

    from weather_bigquery_lakehouse_spark.pipeline.sources import (
        CitySource,
        http_json_fetch,
    )

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            name = unquote(self.path.rsplit("/", 1)[-1])
            if name == "missing city":
                self.send_error(404)
                return
            if name == "slow city":
                time.sleep(1.0)  # > client timeout → dropped
            body = json.dumps({"id": 1, "nome": name}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # keep pytest output clean
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        base = f"http://127.0.0.1:{server.server_address[1]}/city"
        src = CitySource(fetch_fn=http_json_fetch(timeout=0.3), max_concurrent=4)
        rows = src.city_rows(
            ["Sao-Paulo", "missing-city", "slow-city", "Rio-Branco"], base_url=base
        )
        # '-' → ' ' normalization happened BEFORE the fetch; the server saw
        # the decoded space, proving the adapter percent-encodes the path
        assert [r["nome"] for r in rows] == ["Sao Paulo", "Rio Branco"]
        assert src.stats.dropped == ["missing-city", "slow-city"]
        assert src.stats.requested == 4 and src.stats.fetched == 2
    finally:
        server.shutdown()
        server.server_close()


def test_concurrent_fetch_drops_failures_in_order():
    from weather_bigquery_lakehouse_spark.pipeline.sources import ForecastSource

    def flaky(url):
        cid = int(url.split("/")[1])
        if cid % 3 == 0:
            raise IOError("down")
        return {"cid": cid}

    src = ForecastSource(fetch_fn=flaky, max_concurrent=4)
    rows = src.forecast_rows(list(range(10)))
    assert [r["cid"] for r in rows] == [1, 2, 4, 5, 7, 8]
    assert src.stats.dropped == ["0", "3", "6", "9"]
    assert src.stats.requested == 10 and src.stats.fetched == 6


def test_maintenance_compacts_and_expires(spark, tmp_path):
    """Two daily runs → compaction merges each partition's files in place
    (data intact, partitions intact) and retention drops the expired day
    by directory listing."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import run_maintenance

    zones = str(tmp_path / "zones")
    kwargs = dict(
        zone_dir=zones,
        warehouse_dir=str(tmp_path / "warehouse"),
        city_records=fixture_city_rows(10),
        forecast_records=fixture_forecast_rows(10),
    )
    run_pipeline(spark, run_date="2024-03-25", **kwargs)
    run_pipeline(spark, run_date="2024-03-26", **kwargs)

    import os

    reports = run_maintenance(spark, zones, keep_dates=["2024-03-26"])
    expired = [k for k in reports if k.endswith(":expired")]
    compacted = [k for k in reports if k.endswith(":compaction")]
    assert expired and compacted
    # silver zones compacted (parquet); bronze (raw json audit trail) not
    assert any(k.startswith("silver/") for k in compacted)
    assert not any(k.startswith("bronze/") for k in compacted)
    for tier in sorted(os.listdir(zones)):
        for entity in sorted(os.listdir(os.path.join(zones, tier))):
            if entity.startswith("_"):  # metadata tables (_quality) are
                continue                # not date-partitioned entity zones
            zpath = os.path.join(zones, tier, entity)
            parts = [e for e in os.listdir(zpath) if e.startswith("_ingestion_date=")]
            assert parts == ["_ingestion_date=2024-03-26"], (zpath, parts)
    # silver data still readable after in-place compaction
    silver = os.path.join(zones, "silver")
    entity = sorted(e for e in os.listdir(silver) if not e.startswith("_"))[0]
    assert spark.read.parquet(os.path.join(silver, entity)).count() > 0


def _two_day_zone(root) -> str:
    """A zone root holding one silver entity with two small parquet files
    in each of two ``_ingestion_date`` partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for date in ("2024-03-25", "2024-03-26"):
        part = root / "silver" / "x" / f"_ingestion_date={date}"
        part.mkdir(parents=True)
        for i in range(2):
            pq.write_table(pa.table({"v": [i]}), str(part / f"part-{i}.parquet"))
    return str(root)


@pytest.mark.parametrize("as_uri", ["file://{}", "file:{}"])
def test_maintenance_file_uri_zone_matches_plain_path(spark, tmp_path, as_uri):
    """A ``file:`` zone resolves to its local path, so maintenance reports
    what the plain path reports (it used to return ``{}``)."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import run_maintenance

    plain = run_maintenance(spark, _two_day_zone(tmp_path / "a"), keep_dates=["2024-03-26"])
    uri = run_maintenance(
        spark, as_uri.format(_two_day_zone(tmp_path / "b")), keep_dates=["2024-03-26"]
    )
    assert plain["silver/x:expired"] == ["2024-03-25"]
    assert plain["silver/x:compaction"].files_rewritten == 2
    assert uri == plain
    assert [p.name for p in (tmp_path / "b" / "silver" / "x").iterdir()] == [
        "_ingestion_date=2024-03-26"
    ]


@pytest.mark.parametrize("zone", ["s3a://bucket/zones", "gs://bucket/zones"])
def test_maintenance_object_store_zone_raises(spark, zone):
    """Zones are walked with ``os`` calls: an object-store URI raises,
    naming the URI, instead of finding nothing."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import run_maintenance

    with pytest.raises(ValueError, match=re.escape(zone)):
        run_maintenance(spark, zone, keep_dates=[])


# --------------------------------------------------------------------------
# DAG spec: the runner's ordering is data, not code
# --------------------------------------------------------------------------


def test_pipeline_dag_spec_chain_and_flags():
    """The spec must encode the reference DAG's chain and flags
    (bronze → silver → gold, @daily, catchup off, 1 retry / 5 min) plus
    the weekly maintenance tail."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import PIPELINE_DAG

    assert PIPELINE_DAG.schedule == "@daily"
    assert PIPELINE_DAG.catchup is False
    assert PIPELINE_DAG.retries == 1 and PIPELINE_DAG.retry_delay_minutes == 5
    order = PIPELINE_DAG.topological_order()
    assert order.index("bronze_ingest_cities") < order.index("silver_transform")
    assert order.index("bronze_ingest_weather") < order.index("silver_transform")
    assert order.index("silver_transform") < order.index("gold_load")
    assert order.index("gold_load") < order.index("zone_maintenance")
    maint = [t for t in PIPELINE_DAG.tasks if t.task_id == "zone_maintenance"]
    assert maint[0].cadence == "weekly"


def test_dag_spec_rejects_cycles_and_unknown_upstreams():
    import pytest as _pytest

    from weather_bigquery_lakehouse_spark.pipeline.runner import DagSpec, TaskSpec

    cyclic = DagSpec("d", "@daily", False, 1, 5,
                     (TaskSpec("a", ("b",)), TaskSpec("b", ("a",))))
    with _pytest.raises(ValueError, match="cycle"):
        cyclic.validate()
    dangling = DagSpec("d", "@daily", False, 1, 5, (TaskSpec("a", ("ghost",)),))
    with _pytest.raises(ValueError, match="unknown"):
        dangling.validate()


def test_run_pipeline_rejects_unexecutable_dag(spark, tmp_path):
    """ADVICE fix: a custom dag with an unknown daily task id, or one
    omitting the ctx-producing stages, must fail fast with a descriptive
    error — not a KeyError mid-run."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import DagSpec, TaskSpec

    kwargs = dict(
        zone_dir=str(tmp_path / "z"), warehouse_dir=str(tmp_path / "w"),
        city_records=[], forecast_records=[],
    )
    bogus = DagSpec("d", "@daily", False, 1, 5, (TaskSpec("mystery_stage"),))
    with pytest.raises(ValueError, match="mystery_stage.*no\n?.*executable|no "):
        run_pipeline(spark, dag=bogus, **kwargs)
    partial_dag = DagSpec("d", "@daily", False, 1, 5, (TaskSpec("gold_load"),))
    with pytest.raises(ValueError, match="silver_transform"):
        run_pipeline(spark, dag=partial_dag, **kwargs)
    # and one level further up the chain: silver reads both bronze zones,
    # so a silver-only dag dies mid-run without this fail-fast check
    silver_only = DagSpec(
        "d", "@daily", False, 1, 5, (TaskSpec("silver_transform"),)
    )
    with pytest.raises(ValueError, match="bronze"):
        run_pipeline(spark, dag=silver_only, **kwargs)


def test_run_pipeline_rejects_maintenance_as_daily_task(spark, tmp_path):
    """Maintenance has a stage for execute_stage, but run_pipeline runs
    only daily stages: a dag marking it daily fails before any work."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import DagSpec, TaskSpec

    dag = DagSpec("d", "@daily", False, 1, 5, (TaskSpec("zone_maintenance"),))
    with pytest.raises(ValueError, match="zone_maintenance.*no executable daily stage"):
        run_pipeline(spark, str(tmp_path / "z"), str(tmp_path / "w"), [], [], dag=dag)
    assert not (tmp_path / "z").exists()


def test_execute_stage_per_task_equals_in_process_pipeline(spark, tmp_path):
    """Scheduler shape: each task in its own invocation, inputs re-read
    from the zones — the gold tables must equal the single-session run."""
    from weather_bigquery_lakehouse_spark.io.catalog import GoldCatalog
    from weather_bigquery_lakehouse_spark.pipeline.runner import (
        PIPELINE_DAG,
        execute_stage,
    )

    cities, forecasts = fixture_city_rows(12), fixture_forecast_rows(12)
    # reference run: in-process runner
    ref = run_pipeline(
        spark,
        zone_dir=str(tmp_path / "zA"), warehouse_dir=str(tmp_path / "wA"),
        city_records=cities, forecast_records=forecasts, run_date="2024-03-25",
    )
    # scheduler run: one execute_stage call per task, topological order
    zone, wh = str(tmp_path / "zB"), str(tmp_path / "wB")
    for task_id in PIPELINE_DAG.topological_order():
        execute_stage(
            spark, task_id, zone, wh, run_date="2024-03-25",
            city_records=cities, forecast_records=forecasts,
        )
    cat = GoldCatalog(wh)
    for name, df in _gold(spark, ref).items():
        got = cat.read_table(spark, name)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, df.collect())
        ), name
    with pytest.raises(ValueError, match="unknown task_id"):
        execute_stage(spark, "nope", zone, wh)


def test_rendered_airflow_dag_matches_reference_shape(tmp_path):
    """The emitted dags/ file must reproduce the reference DAG's flags
    (reference airflow/dags/bigquery_weather_dag.py:14-22: @daily,
    catchup=False, retries=1, retry_delay 5 min) and the DagSpec's full
    dependency chain, and be valid Python."""
    import ast

    from weather_bigquery_lakehouse_spark.pipeline.airflow_emit import (
        write_airflow_dag,
    )
    from weather_bigquery_lakehouse_spark.pipeline.runner import PIPELINE_DAG

    path = str(tmp_path / "weather_lakehouse.py")
    text = write_airflow_dag(PIPELINE_DAG, path)
    assert open(path).read() == text
    compile(text, path, "exec")  # valid python
    # flags mirror the reference DAG
    assert 'schedule="@daily"' in text
    assert "catchup=False" in text
    assert '"retries": 1' in text
    assert "retry_delay\": timedelta(minutes=5)" in text or \
        '"retry_delay": timedelta(minutes=5)' in text
    # every daily task is a PythonOperator bound to its task_id
    for tid in ["bronze_ingest_cities", "bronze_ingest_weather",
                "silver_transform", "gold_load"]:
        assert f'task_id="{tid}"' in text
        assert f'partial(execute_airflow_task, "{tid}")' in text
        # the scheduler's LOGICAL date must reach execute_stage: op_kwargs
        # is a template field, so {{ ds }} resolves per run — without it
        # every run falls back to date.today() (wrong for @daily runs and
        # post-midnight retries)
        assert 'op_kwargs={"run_date": "{{ ds }}"}' in text
    # the reference's dependency chain, extended with the bronze fan-in
    assert "bronze_ingest_cities >> silver_transform" in text
    assert "bronze_ingest_weather >> silver_transform" in text
    assert "silver_transform >> gold_load" in text
    # weekly maintenance renders into its own @weekly DAG, not dropped
    assert 'schedule="@weekly"' in text
    assert 'task_id="zone_maintenance"' in text
    # two @dag definitions in one module, both invoked
    tree = ast.parse(text)
    dag_fns = [n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    assert "weather_lakehouse_daily" in dag_fns
    assert "weather_lakehouse_daily_weekly" in dag_fns


def test_bronze_only_partial_dag_runs(spark, tmp_path):
    """The gold→silver requirement is one-directional: a bronze-only
    re-landing dag must execute (no ctx consumers), returning empty gold
    fields."""
    from weather_bigquery_lakehouse_spark.pipeline.runner import DagSpec, TaskSpec

    dag = DagSpec("bronze_backfill", "@daily", False, 1, 5,
                  (TaskSpec("bronze_ingest_cities"),))
    out = run_pipeline(
        spark,
        zone_dir=str(tmp_path / "z"), warehouse_dir=str(tmp_path / "w"),
        city_records=fixture_city_rows(5), forecast_records=[],
        run_date="2024-03-25", dag=dag,
    )
    assert out["executed"] == ["bronze_ingest_cities"]
    assert out["catalog"] is None


def test_render_rejects_non_identifier_ids():
    """Task/dag ids become Python identifiers in the emitted file — a dash
    would render a SyntaxError'd dags/ module, so the renderer refuses."""
    import pytest as _pytest

    from weather_bigquery_lakehouse_spark.pipeline.airflow_emit import (
        render_airflow_dag,
    )
    from weather_bigquery_lakehouse_spark.pipeline.runner import DagSpec, TaskSpec

    bad = DagSpec("my-dag", "@daily", False, 1, 5, (TaskSpec("a"),))
    with _pytest.raises(ValueError, match="identifier"):
        render_airflow_dag(bad)
    bad2 = DagSpec("d", "@daily", False, 1, 5, (TaskSpec("silver-transform"),))
    with _pytest.raises(ValueError, match="identifier"):
        render_airflow_dag(bad2)
    # all-weekly spec still renders valid python (empty daily body → pass)
    weekly_only = DagSpec("d", "@daily", False, 1, 5,
                          (TaskSpec("maint", cadence="weekly"),))
    compile(render_airflow_dag(weekly_only), "<render>", "exec")


def test_execute_airflow_task_env_glue_runs_silver_and_gold(spark, tmp_path, monkeypatch):
    """The emitted DAG's task entrypoint must run real stages from env-var
    config — and must NOT stop a pre-existing shared session (an Airflow
    worker can host several PythonOperators in one process)."""
    from weather_bigquery_lakehouse_spark.io.catalog import GoldCatalog
    from weather_bigquery_lakehouse_spark.pipeline.airflow_emit import (
        execute_airflow_task,
    )
    from weather_bigquery_lakehouse_spark.pipeline.runner import execute_stage

    zone, wh = str(tmp_path / "z"), str(tmp_path / "w")
    for task, recs in (
        ("bronze_ingest_cities", dict(city_records=fixture_city_rows(8))),
        ("bronze_ingest_weather", dict(forecast_records=fixture_forecast_rows(8))),
    ):
        execute_stage(spark, task, zone, wh, run_date="2024-03-25", **recs)

    monkeypatch.setenv("WBL_ZONE_DIR", zone)
    monkeypatch.setenv("WBL_WAREHOUSE_DIR", wh)
    # run_date arrives via op_kwargs ({{ ds }}) in the emitted DAG — the
    # entrypoint must thread it through to execute_stage, not today()
    execute_airflow_task("silver_transform", run_date="2024-03-25")
    execute_airflow_task("gold_load", run_date="2024-03-25")
    assert spark.sparkContext._jsc is not None  # shared session survived
    cat = GoldCatalog(wh)
    fact = cat.read_table(spark, "fact_weather")
    assert fact.count() > 0
    stamped = {
        str(r["_modeling_date"])
        for r in fact.select("_modeling_date").distinct().collect()
    }
    assert stamped == {"2024-03-25"}
    assert cat.read_table(spark, "dim_city").count() > 0
