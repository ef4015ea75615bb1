"""The benchmark workloads.

Each workload function takes a ``Run`` (see run.py), sets up, runs whole
rounds of its operations in one closed loop until the run's seconds are
spent, checks every operation's output outside the timed section, and
returns ``(metrics, attempted, failed, correct)``. Metric values are per
round where they are counts or sums, so runs with different round counts
compare.
"""

from __future__ import annotations

import datetime as dt
import importlib
import math
import os
import re
import statistics

import duckdb

import checks
import gen_tables
import gen_weather as gw

PKG = "weather_bigquery_lakehouse_spark"

# -- daily_pipeline ---------------------------------------------------------

#: Days of the simulated week. Two days are the fewest that show history
#: effects (silver re-reads, dim_city growth); see README for why not seven.
WEEK_DAYS = 2
FIRST_DAY = dt.date(2024, 3, 25)
#: maintenance keeps the newest KEEP_DAYS ingestion dates
KEEP_DAYS = 1
DAILY_LAYERS = ("pipeline.bronze", "pipeline.silver", "pipeline.gold",
                "io.catalog", "io.maintenance")

# -- registry_reads: entries and traced layers -----------------------------

#: Scale factor of the generated star-schema and corpus tables.
READ_SCALE = 0.002
STAR_ENTRIES = (
    "flagship_star_revenue", "filter_project_pushdown", "rollup_pricing_summary",
    "topk_customers_per_region", "fact_orders_keys", "latest_snapshot",
    "dim_conformed_customer", "pivot_order_status", "hourly_events_rollup",
    "asof_last_click", "sessionize_events", "quantiles_lineitem",
)
CURATION_ENTRIES = (
    "corpus_curation_pipeline", "dedup_minhash_lsh", "dedup_simhash",
    "embedding_dup_clusters", "entity_resolution_customers", "bm25_topk_documents",
    "similarity_ivfpq_topk", "quality_ccnet_buckets", "repeated_span_flags",
    "decontaminate_ngram_overlap",
)
OPERATOR_MODULES = ("dedup", "similarity", "kmeans", "text", "records", "retrieval",
                    "curation", "graph", "star_schema", "temporal")
PLAN_MODULES = ("queries", "curation", "extensions")
EXEC_KEYS = ("task_run_s", "task_cpu_s", "gc_s", "input_bytes",
             "shuffle_write_bytes", "spill_bytes")


#: Problems that follow from the dim_city fan-out kept in daily_pipeline
#: (see README): repeated dim_city pairs, and fact rows repeated and joining
#: several dim_city rows because of them.
FAULT_PATTERNS = (
    re.compile(r"^dim_city: \d+ rows for \d+ pairs; \d+ pairs repeated"),
    re.compile(r"^fact_weather: \d+ repeated id_fact rows within partitions$"),
    re.compile(r"^fact_weather: \d+ rows do not join exactly one dim_city row$"),
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, over all workloads (a traced run reports 0
    for a layer its workload does not touch)."""
    names = []
    for layer in DAILY_LAYERS:
        names += [f"{layer}.{k}" for k in ("s", "job_s", "jobs", "tasks", "task_cpu_s")]
    names += ["pipeline.silver.rows_read", "pipeline.gold.bronze_scans",
              "pipeline.gold.dim_city_rows", "pipeline.gold.fact_rows_appended",
              "pipeline.bronze.bytes_written", "pipeline.silver.bytes_written",
              "pipeline.gold.bytes_written", "io.maintenance.bytes_rewritten",
              "io.maintenance.files_before", "io.maintenance.files_after",
              "io.readers.s", "io.readers.calls", "io.readers.jobs"]
    for m in PLAN_MODULES:
        names += [f"plans.{m}.{k}" for k in ("build_s", "action_s", "build_jobs",
                                             "action_jobs", "job_s", "tasks", "task_cpu_s")]
    for m in OPERATOR_MODULES:
        names += [f"operators.{m}.s", f"operators.{m}.jobs"]
    names += [f"exec.{k}" for k in EXEC_KEYS]
    from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES

    for n in STAR_ENTRIES + CURATION_ENTRIES:
        names.append(f"plans.{ALL_QUERIES[n].fn.__module__.rsplit('.', 1)[1]}.{n}.p50_s")
    return names


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("bytes", "bytes_written", "bytes_rewritten")):
        return "bytes"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


def exec_totals(groups: dict) -> dict:
    """Task metrics summed over every job group."""
    return {f"exec.{k}": sum(g.get(k, 0.0) for g in groups.values()) for k in EXEC_KEYS}


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def log_times(run, times: dict[str, list[dict]]) -> None:
    """Each operation's wall and CPU seconds, to stderr."""
    for name, recs in times.items():
        run.log(f"{name}: wall " + " ".join(f"{r['wall']:.2f}" for r in recs)
                + " s; cpu " + " ".join(f"{r['cpu']:.2f}" for r in recs) + " s")


def _partition_counts(con, zone: str) -> dict[str, int]:
    if not os.path.isdir(zone):
        return {}
    return dict(con.sql(
        f"SELECT CAST(_ingestion_date AS VARCHAR), count(*) FROM "
        f"read_parquet('{zone}/*/*.parquet', hive_partitioning=1) GROUP BY 1"
    ).fetchall())


def _partition_hashes(con, zone_dir: str) -> dict[str, str]:
    """zone/partition -> order-insensitive hash of its rows, for every
    entity zone (bronze JSON lines, silver parquet)."""
    out = {}
    for tier in ("bronze", "silver"):
        tdir = os.path.join(zone_dir, tier)
        for entity in sorted(os.listdir(tdir)):
            if entity.startswith("_"):
                continue
            edir = os.path.join(tdir, entity)
            for part in sorted(p for p in os.listdir(edir) if "=" in p):
                pdir = os.path.join(edir, part)
                if tier == "bronze":
                    lines = []
                    for f in sorted(os.listdir(pdir)):
                        if f.endswith(".json"):
                            with open(os.path.join(pdir, f), encoding="utf-8") as fh:
                                lines += fh.read().splitlines()
                    out[f"{tier}/{entity}/{part}"] = checks.value_hash(
                        [(x,) for x in lines], ["line"])
                else:
                    rel = con.sql(f"SELECT * FROM read_parquet('{pdir}/*.parquet')")
                    out[f"{tier}/{entity}/{part}"] = checks.value_hash(
                        rel.fetchall(), [d[0] for d in rel.description])
    return out


class _DailyExpect:
    """What silver and gold must hold after each landed day, recomputed
    from the generated records."""

    def __init__(self, seed: int, dates: list[str]):
        self.cities = gw.city_registry()
        self.records = {d: gw.forecast_records(seed, d) for d in dates}
        self.weather = {d: gw.silver_weather_rows(r, d) for d, r in self.records.items()}
        self.ibge = {d: len(gw.silver_ibge_rows(self.cities, d)) for d in dates}
        self.cptec = {d: len(gw.silver_cptec_city_rows(r, d)) for d, r in self.records.items()}
        self.pairs = gw.conformed_pairs(self.cities, self.records[dates[0]])
        names = {c["id"]: c["nome"].strip(" ") for c in self.cities}
        self.fact_ids = {
            d: gw.fact_keys(self.weather[d], self.pairs, names) for d in dates
        }

    def check_day(self, con, zone: str, wh: str, landed: list[str]) -> tuple[list, dict]:
        problems = []
        want = {
            "cptec_weather": {d: len(self.weather[d]) for d in landed},
            "ibge_cities": {d: self.ibge[d] for d in landed},
            "cptec_cities": {d: self.cptec[d] for d in landed},
        }
        for entity, counts in want.items():
            got = _partition_counts(con, os.path.join(zone, "silver", entity))
            problems += checks.check_counts(f"silver/{entity}", got, counts)
        gold = os.path.join(wh, "gold")
        dim = con.sql(
            f"SELECT id_ibge, id_cptec, id_city FROM read_parquet('{gold}/dim_city/*.parquet')"
        ).fetchall()
        problems += checks.check_dim_city(dim, self.pairs)
        dim_keys = {
            "dim_city": [r[2] for r in dim],
            **{
                name: [r[0] for r in con.sql(
                    f"SELECT {key} FROM read_parquet('{gold}/{name}/*.parquet')").fetchall()]
                for name, key in (("dim_update_date", "id_update_date"),
                                  ("dim_forecast_date", "id_forecast_date"),
                                  ("dim_weather_condition", "id_weather_condition"))
            },
        }
        fact = con.sql(
            f"SELECT id_fact, CAST(_ingestion_date AS VARCHAR), id_city, id_update_date, "
            f"id_forecast_date, id_weather_condition FROM "
            f"read_parquet('{gold}/fact_weather/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
        expected = set().union(*(self.fact_ids[d] for d in landed))
        problems += checks.check_fact(fact, dim_keys, expected)
        return problems, {"dim_rows": len(dim), "fact_rows": len(fact),
                          "fact_hash": checks.value_hash(fact, list("abcdef"))}


def daily_pipeline(run) -> tuple[dict, int, int]:
    from weather_bigquery_lakehouse_spark.pipeline import bronze, gold, runner, silver
    from weather_bigquery_lakehouse_spark.io import catalog, maintenance

    dates = gw.run_dates(FIRST_DAY, WEEK_DAYS)
    keep = dates[-KEEP_DAYS:]
    expect = _DailyExpect(run.seed, dates)
    payload = sum(gw.payload_bytes(expect.records[d]) + gw.payload_bytes(expect.cities)
                  for d in dates)
    con = duckdb.connect()
    spark = run.session()
    tracer = run.tracer(spark)
    zone = wh = ""  # this round's directories, read by the hooks below
    layer_bytes = {}
    if tracer is not None:
        def bytes_hooks(layer):
            def before():
                return checks.tree_state(zone, wh)

            def after(pre):
                layer_bytes[layer] = layer_bytes.get(layer, 0) + checks.bytes_new(
                    pre, checks.tree_state(zone, wh))
            return {"before": before, "after": after}

        tracer.wrap(bronze, "land_records", "pipeline.bronze", **bytes_hooks("pipeline.bronze"))
        for fn in ("silver_weather", "silver_cities", "silver_cptec_cities"):
            tracer.wrap(silver, fn, "pipeline.silver", **bytes_hooks("pipeline.silver"))
        tracer.wrap(gold, "load_gold", "pipeline.gold", **bytes_hooks("pipeline.gold"))
        tracer.wrap(catalog.GoldCatalog, "write_table", "io.catalog")
        tracer.wrap(catalog.GoldCatalog, "read_table", "io.catalog")
        tracer.wrap(maintenance, "compact_zone", "io.maintenance")
        tracer.wrap(maintenance, "expire_partitions", "io.maintenance")

    ops = [("day", d) for d in dates] + [("retry", dates[-1]), ("maintenance", None)]
    clock = run.clock
    times: dict[str, list[dict]] = {}  # operation -> its {"wall", "cpu"} records
    rows_in = 0
    written = stored = 0
    dim_rows = fact_appended = 0
    files_before = files_after = rewritten = 0
    attempted = failed = rounds = 0
    correct = True
    run.start_timed()
    while rounds == 0 or run.timed_elapsed() < run.seconds:
        zone = os.path.join(run.work, f"round{rounds}", "zones")
        wh = os.path.join(run.work, f"round{rounds}", "warehouse")
        landed: list[str] = []
        state = checks.tree_state(zone, wh)
        fact_before = (0, None)
        for i, (kind, date) in enumerate(ops):
            name = f"{kind}{i}" if kind == "day" else kind
            attempted += 1
            problems = []
            try:
                if kind == "maintenance":
                    part_hashes = _partition_hashes(con, zone)
                    reports, rec = clock.time(runner.run_maintenance, spark, zone, keep)
                    for key, rep in reports.items():
                        if key.endswith(":compaction"):
                            files_before += rep.files_before
                            files_after += rep.files_after
                    after = _partition_hashes(con, zone)
                    for part, h in part_hashes.items():
                        kept = any(part.endswith(f"_ingestion_date={d}") for d in keep)
                        if kept and after.get(part) != h:
                            problems.append(f"maintenance changed kept partition {part}")
                        if not kept and part in after:
                            problems.append(f"maintenance kept expired partition {part}")
                else:
                    _, rec = clock.time(runner.run_pipeline, spark, zone, wh, expect.cities,
                                        expect.records[date], date)
                    rows_in += gw.day_rows(expect.records[date])
                    if date not in landed:
                        landed.append(date)
                    problems, seen = expect.check_day(con, zone, wh, landed)
                    fact_now = (seen["fact_rows"], seen["fact_hash"])
                    if kind == "retry" and fact_now != fact_before:
                        problems.append("retry changed fact_weather")
                    fact_appended += fact_now[0] - fact_before[0]
                    fact_before = fact_now
                    dim_rows = seen["dim_rows"]
                times.setdefault(name, []).append(rec)
            except Exception as exc:  # a failed operation is counted, not fatal
                problems = [f"{type(exc).__name__}: {exc}"]
            new_state = checks.tree_state(zone, wh)
            op_bytes = checks.bytes_new(state, new_state)
            written += op_bytes
            if kind == "maintenance":
                rewritten += op_bytes
            state = new_state
            if problems:
                failed += 1
                run.log(f"{name} ({date or 'all'}) failed: " + "; ".join(problems[:4]))
                fault_only = kind != "maintenance" and name != "day0" and all(
                    any(p.match(x) for p in FAULT_PATTERNS) for x in problems)
                correct = correct and fault_only
        clock.close()
        stored += checks.stored_bytes(state)
        rounds += 1
        run.end_round()
    log_times(run, times)
    cpu = {k: [r["cpu"] for r in v] for k, v in times.items()}
    day_cpu = [c for k, v in cpu.items() if k != "maintenance" for c in v]
    metrics = {
        "setup_s": (run.setup_s, "s"),
        "rows_per_cpu_s": (rows_in / sum(sum(v) for v in cpu.values()), "rows/s"),
        "day_cpu_s": (statistics.fmean(day_cpu), "s"),
        # maintenance is left out: it takes milliseconds and would swamp the mean with noise
        "query_geomean_cpu_s": (geomean(statistics.median(v) for k, v in cpu.items()
                                        if k != "maintenance"), "s"),
        "retained_mem_mb": (run.retained_mem_mb(spark), "MB"),
        "stored_bytes_per_input_byte": (stored / rounds / payload, "ratio"),
        "bytes_written_per_input_byte": (written / rounds / payload, "ratio"),
    }
    if tracer is not None:
        run.log_traced(metrics)
        groups = run.finish_trace(spark, tracer)
        per = {}
        for layer in DAILY_LAYERS:
            g = groups.get(layer, {})
            per[f"{layer}.s"] = tracer.wall[layer]
            for key in ("job_s", "jobs", "tasks", "task_cpu_s"):
                per[f"{layer}.{key}"] = g.get(key, 0.0)
        n_days = len(day_cpu)
        per["pipeline.silver.rows_read"] = groups.get("pipeline.silver", {}).get(
            "input_records", 0.0) / n_days * rounds
        per["pipeline.gold.bronze_scans"] = groups.get("pipeline.gold", {}).get(
            "json_scans", 0.0) / n_days * rounds
        per["pipeline.gold.dim_city_rows"] = dim_rows * rounds
        per["pipeline.gold.fact_rows_appended"] = fact_appended
        for layer in ("pipeline.bronze", "pipeline.silver", "pipeline.gold"):
            per[f"{layer}.bytes_written"] = layer_bytes.get(layer, 0)
        per["io.maintenance.bytes_rewritten"] = rewritten
        per["io.maintenance.files_before"] = files_before
        per["io.maintenance.files_after"] = files_after
        per.update(exec_totals(groups))
        metrics = {k: (v / rounds, unit_of(k)) for k, v in per.items()}
    return metrics, attempted, failed, correct


# -- registry_reads ----------------------------------------------------------

def materialize_ctes(sql: str) -> str:
    """Mark the non-recursive CTEs of a ``WITH RECURSIVE`` query
    ``MATERIALIZED``. DuckDB otherwise re-evaluates them at every step of
    the recursion (one oracle took 16 s instead of 3.5 s); the result is
    the same."""
    if "WITH RECURSIVE" not in sql:
        return sql
    out, pos = [], 0
    for m in re.finditer(r"(?m)^(\w+) AS \(", sql):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        if not re.search(rf"\b{m.group(1)}\b", sql[m.end():i]):
            out.append(sql[pos:m.end() - 1] + "MATERIALIZED (")
            pos = m.end()
    return "".join(out) + sql[pos:]


def _entry_tables(oracle: str) -> list[str]:
    return [t for t in gen_tables.TABLES if re.search(rf"\b{t}\b", oracle)]


def registry_reads(run):
    """One closed-loop pass after another over the star-query and curation
    entries, each entry's frame built and collected; passes alternate
    between two directories holding the same files."""
    from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES
    from weather_bigquery_lakehouse_spark.io import readers

    entries = STAR_ENTRIES + CURATION_ENTRIES
    data = os.path.join(run.work, "data0")
    generated = gen_tables.make_tables(run.seed, READ_SCALE)
    sizes = gen_tables.write_tables(generated, data)
    rows_of = {t: tbl.num_rows for t, tbl in generated.items()}
    del generated
    # a directory of links to the same read-only files under a new path, so
    # no memo keyed on the dataset path serves the next pass
    dirs = [data, os.path.join(run.work, "data1")]
    os.makedirs(dirs[1])
    for f in os.listdir(data):
        os.link(os.path.join(data, f), os.path.join(dirs[1], f))
    spec = {n: ALL_QUERIES[n] for n in entries}
    tables = {n: _entry_tables(spec[n].oracle) for n in entries}
    in_rows = {n: sum(rows_of[t] for t in tables[n]) for n in entries}
    in_bytes = {n: sum(sizes[t] for t in tables[n]) for n in entries}
    module = {n: spec[n].fn.__module__.rsplit(".", 1)[1] for n in entries}

    spark = run.session()
    tracer = run.tracer(spark)
    if tracer is not None:
        tracer.wrap(readers, "load_testdata", "io.readers")
        for m in OPERATOR_MODULES:
            tracer.wrap_module(importlib.import_module(f"{PKG}.operators.{m}"), f"operators.{m}")

    def build_and_collect(n: str, d: str):
        fn = spec[n].fn
        if tracer is None:
            df = fn(spark, d)
            return df.collect(), df.columns
        df = tracer.span(f"plans.{module[n]}.build", fn, spark, d)
        return tracer.span(f"plans.{module[n]}.action", df.collect), df.columns

    local = os.environ["SPARK_LOCAL_DIRS"]
    clock = run.clock
    times: dict[str, list[dict]] = {n: [] for n in entries}  # {"wall", "cpu"} records
    pass_recs: list[list[dict]] = []
    sigs: dict[str, list] = {n: [] for n in entries}
    errors: dict[str, list] = {n: [] for n in entries}
    rows_in = bytes_in = written = 0
    passes = 0
    run.start_timed()
    while passes == 0 or run.timed_elapsed() < run.seconds:
        d = dirs[passes % len(dirs)]
        this_pass = []
        for n in entries:
            before = checks.tree_state(local)
            try:
                (rows, cols), rec = clock.time(build_and_collect, n, d)
            except Exception as exc:  # counted as a failed operation
                errors[n].append(f"{type(exc).__name__}: {exc}")
                continue
            written += checks.bytes_new(before, checks.tree_state(local))
            times[n].append(rec)
            this_pass.append(rec)
            rows_in += in_rows[n]
            bytes_in += in_bytes[n]
            sigs[n].append(checks.result_signature(rows, cols))
        clock.close()
        pass_recs.append(this_pass)
        passes += 1
        run.end_round()
    log_times(run, times)
    run.log("passes: wall " + " ".join(f"{sum(r['wall'] for r in p):.2f}" for p in pass_recs)
            + " s")
    cpu = {n: [r["cpu"] for r in v] for n, v in times.items()}
    pass_cpu = [sum(r["cpu"] for r in p) for p in pass_recs]
    mem = run.retained_mem_mb(spark)
    stored = checks.stored_bytes(checks.tree_state(local, *dirs))
    # outside the timed phase: every result against its DuckDB oracle
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    attempted = failed = 0
    for n in entries:
        rel = con.sql(materialize_ctes(spec[n].oracle))
        want = checks.result_signature(rel.fetchall(), [c[0] for c in rel.description])
        attempted += len(sigs[n]) + len(errors[n])
        failed += len(errors[n])
        for e in errors[n]:
            run.log(f"{n} failed: {e}")
        for got in sigs[n]:
            problems = checks.check_result(got, want)
            if problems:
                failed += 1
                run.log(f"{n} failed: " + "; ".join(problems))
    ok = [n for n in entries if times[n]]
    metrics = {
        "setup_s": (run.setup_s, "s"),
        "rows_per_cpu_s": (rows_in / sum(pass_cpu), "rows/s"),
        "day_cpu_s": (statistics.fmean(pass_cpu), "s"),
        "query_geomean_cpu_s": (geomean(statistics.median(cpu[n]) for n in ok), "s"),
        "retained_mem_mb": (mem, "MB"),
        "stored_bytes_per_input_byte": (stored / sum(sizes.values()), "ratio"),
        "bytes_written_per_input_byte": (written / bytes_in, "ratio"),
    }
    if tracer is not None:
        run.log_traced(metrics)
        groups = run.finish_trace(spark, tracer)
        per = {
            "io.readers.s": tracer.wall["io.readers"],
            "io.readers.calls": tracer.calls["io.readers"],
            "io.readers.jobs": groups.get("io.readers", {}).get("jobs", 0.0),
        }
        for m in PLAN_MODULES:
            b = groups.get(f"plans.{m}.build", {})
            a = groups.get(f"plans.{m}.action", {})
            per[f"plans.{m}.build_s"] = tracer.wall[f"plans.{m}.build"]
            per[f"plans.{m}.action_s"] = tracer.wall[f"plans.{m}.action"]
            per[f"plans.{m}.build_jobs"] = b.get("jobs", 0.0)
            per[f"plans.{m}.action_jobs"] = a.get("jobs", 0.0)
            per[f"plans.{m}.job_s"] = b.get("job_s", 0.0) + a.get("job_s", 0.0)
            per[f"plans.{m}.tasks"] = b.get("tasks", 0.0) + a.get("tasks", 0.0)
            per[f"plans.{m}.task_cpu_s"] = b.get("task_cpu_s", 0.0) + a.get("task_cpu_s", 0.0)
        for m in OPERATOR_MODULES:
            g = groups.get(f"operators.{m}", {})
            per[f"operators.{m}.s"] = tracer.wall[f"operators.{m}"]
            per[f"operators.{m}.jobs"] = g.get("jobs", 0.0)
        per.update(exec_totals(groups))
        metrics = {k: (v / passes, unit_of(k)) for k, v in per.items()}
        for n in entries:
            metrics[f"plans.{module[n]}.{n}.p50_s"] = (
                statistics.median(r["wall"] for r in times[n]), "s")
    return metrics, attempted, failed, failed == 0


WORKLOADS = {
    "daily_pipeline": daily_pipeline,
    "registry_reads": registry_reads,
}
