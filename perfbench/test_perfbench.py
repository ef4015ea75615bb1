"""Tests of the benchmark's own generators and checkers (no Spark needed).

    python3 -m pytest perfbench -q

Each checker must pass a clean input and flag a planted fault.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen_tables  # noqa: E402
import gen_weather as gw  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

DAY1, DAY2 = "2024-03-25", "2024-03-26"


def _gold(seed: int = 3):
    """A correct gold layer for two landed days, built from the generated
    records with the benchmark's own recomputation."""
    cities = gw.city_registry()
    recs = {d: gw.forecast_records(seed, d) for d in (DAY1, DAY2)}
    pairs = gw.conformed_pairs(cities, recs[DAY1])
    names = {c["id"]: c["nome"].strip(" ") for c in cities}
    dim = [(i, c, gw.city_key(i, c)) for i, c in sorted(pairs)]
    by_name = {}
    for i, c in pairs:
        by_name.setdefault(names[i], []).append(gw.city_key(i, c))
    fact, seen = [], set()
    for d in (DAY1, DAY2):
        for row in sorted(gw.silver_weather_rows(recs[d], d)):
            for k in by_name.get(row[0], ()):
                fid = gw.sha(f"{k}_{gw.sha(row[3])}_{gw.sha(row[4])}")
                if fid not in seen:
                    seen.add(fid)
                    fact.append((fid, d, k, gw.sha(row[2]), gw.sha(row[3]), gw.sha(row[4])))
    dims = {
        "dim_city": [r[2] for r in dim],
        "dim_update_date": sorted({r[3] for r in fact}),
        "dim_forecast_date": sorted({r[4] for r in fact}),
        "dim_weather_condition": sorted({r[5] for r in fact}),
    }
    expected = set().union(*(gw.fact_keys(gw.silver_weather_rows(recs[d], d), pairs, names)
                             for d in (DAY1, DAY2)))
    return dim, pairs, fact, dims, expected


def test_forecasts_are_seeded_and_roll_with_the_run_date():
    a, b = gw.forecast_records(5, DAY1), gw.forecast_records(5, DAY1)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(gw.forecast_records(6, DAY1))
    day2 = gw.forecast_records(5, DAY2)
    assert a[0]["clima"][0]["data"] == DAY1 and day2[0]["clima"][0]["data"] == DAY2
    assert all(len(r["clima"]) == gw.HORIZON_DAYS for r in a)
    assert gw.city_registry() == gw.city_registry()


def test_forecasts_carry_the_dirty_data_silver_cleans():
    recs = gw.forecast_records(1, DAY1)
    stamps = {r["atualizado_em"] for r in recs}
    assert {"2024-03-25", "25/03/2024", "03-25-2024"} <= stamps
    assert any(r["nome"] != r["nome"].strip() for r in recs)
    assert any(c["min"] is None for r in recs for c in r["clima"])
    dumped = [json.dumps(r, sort_keys=True) for r in recs]
    assert len(set(dumped)) < len(dumped)
    ids = {}
    for r in recs:
        ids.setdefault(r["nome"].strip(), set()).add(r["codigo"])
    assert any(len(v) > 1 for v in ids.values())


def test_silver_recomputation_trims_drops_nulls_and_dedupes():
    rec = {"codigo": 1, "nome": " A ", "estado": "SP", "atualizado_em": "2024-03-25",
           "clima": [{"data": DAY1, "condicao": "c", "condicao_desc": " Chuva ",
                      "min": 10, "max": 20, "indice_uv": 1},
                     {"data": DAY2, "condicao": "c", "condicao_desc": "Chuva",
                      "min": None, "max": 20, "indice_uv": 1}]}
    rows = gw.silver_weather_rows([rec, dict(rec)], DAY1)
    assert rows == {("A", "SP", "2024-03-25", DAY1, "c", "Chuva", 10, 20, "CPTEC API", DAY1)}


def test_dim_city_check_passes_clean_and_flags_a_duplicated_row():
    dim, pairs, *_ = _gold()
    assert checks.check_dim_city(dim, pairs) == []
    problems = checks.check_dim_city(dim + [dim[0]], pairs)
    assert problems and any(p.match(problems[0]) for p in workloads.FAULT_PATTERNS)


def test_fact_check_passes_clean_and_flags_faults():
    _, _, fact, dims, expected = _gold()
    assert checks.check_fact(fact, dims, expected) == []
    assert checks.check_fact(fact + [fact[0]], dims, expected)
    assert checks.check_fact(fact[1:], dims, expected)
    doubled = {**dims, "dim_city": dims["dim_city"] + dims["dim_city"][:1]}
    assert checks.check_fact(fact, doubled, expected)


def test_count_check():
    assert checks.check_counts("z", {DAY1: 3}, {DAY1: 3}) == []
    assert checks.check_counts("z", {DAY1: 3}, {DAY1: 4})


def test_result_check_is_order_insensitive_and_flags_a_perturbed_result():
    rows, cols = [(1, 0.5, "x"), (2, 1.25, "y")], ["id", "v", "s"]
    want = checks.result_signature(rows, cols)
    assert checks.check_result(checks.result_signature(rows[::-1], cols), want) == []
    perturbed = [(1, 0.5000000001, "x"), (2, 1.25, "y")]
    assert checks.check_result(checks.result_signature(perturbed, cols), want)
    signed = [(1, 0.5, "x"), (2, 1.25, "y"), (3, -0.0, "z")]
    unsigned = [(1, 0.5, "x"), (2, 1.25, "y"), (3, 0.0, "z")]
    assert checks.check_result(checks.result_signature(signed, cols),
                               checks.result_signature(unsigned, cols))
    assert checks.check_result(checks.result_signature(rows[:1], cols), want)


def test_tables_are_seeded():
    a = gen_tables.make_tables(4, 0.001)
    b = gen_tables.make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in gen_tables.TABLES)
    assert not a["lineitem"].equals(gen_tables.make_tables(5, 0.001)["lineitem"])


def test_materialized_ctes_give_the_same_result():
    sql = """WITH RECURSIVE
e AS (
  SELECT * FROM (VALUES (1, 2), (2, 3), (5, 6)) t(a, b)
),
walk AS (
  SELECT a AS v, a AS comp FROM e
  UNION
  SELECT e.b AS v, w.comp FROM walk w JOIN e ON e.a = w.v
)
SELECT v, MIN(comp) FROM walk GROUP BY v ORDER BY v"""
    rewritten = workloads.materialize_ctes(sql)
    assert "e AS MATERIALIZED (" in rewritten and "walk AS (" in rewritten
    con = duckdb.connect()
    assert con.sql(rewritten).fetchall() == con.sql(sql).fetchall()


def test_event_log_parser(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pipeline.gold"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0,
            "RDD Info": [{"Scope": '{"id":"1","name":"Scan json "}'}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = spans.parse_event_log(str(log))["pipeline.gold"]
    assert g["jobs"] == 1 and g["tasks"] == 1 and g["json_scans"] == 1
    assert g["job_s"] == 0.8 and g["task_run_s"] == 0.5 and g["task_cpu_s"] == 0.2
    assert g["input_records"] == 7 and g["shuffle_write_bytes"] == 30


def test_clock_charges_jvm_cpu_until_the_next_call():
    """A call is charged the JVM CPU up to the next call's start (or
    close), so work the JVM finishes after the call returns is its own."""
    import run

    clock = run.Clock(os.getpid())
    readings = iter([1.0, 3.0, 3.5])
    clock.jvm_cpu = lambda: next(readings)
    _, first = clock.time(lambda: None)
    assert first["cpu"] < 0.05  # the JVM share is added later
    _, second = clock.time(lambda: None)
    clock.close()
    assert abs(first["cpu"] - 2.0) < 0.05
    assert abs(second["cpu"] - 0.5) < 0.05
    clock.close()  # nothing open: no further charge
    assert abs(second["cpu"] - 0.5) < 0.05
