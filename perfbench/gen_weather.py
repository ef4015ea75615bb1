"""Seeded IBGE city payloads and CPTEC forecasts for the daily pipeline, plus
the benchmark's own recomputation of what silver and gold must hold.

The city registry is fixed: the reference serves the 645 municipalities of
the state of São Paulo, and the registry does not change between runs or
seeds. Forecast values are drawn from the seed and the run date; the 6-day
horizon starts at the run date and so rolls forward each day.

Dirty data the silver tier must clean, in every day's payload:

- ``atualizado_em`` in three formats (``yyyy-MM-dd``, ``dd/MM/yyyy``,
  ``MM-dd-yyyy``);
- stray spaces around names and condition descriptions;
- NULL minimum temperatures;
- exact duplicate records (forecasts and IBGE cities);
- one city name served under two CPTEC ids (the second id carries the same
  forecast, so silver's dedupe folds its rows into the first id's);
- CPTEC names with no IBGE match and IBGE cities without a forecast.

The expected-value functions below re-derive silver and gold from the
records with plain Python and ``hashlib``; they share no code with the
program.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random

CITY_COUNT = 645
HORIZON_DAYS = 6
CPTEC_ID_BASE = 4000
#: the city served under a second CPTEC id
TWO_ID_CITY = 7
TWO_ID_SECOND = 9007
#: every city whose index hits this residue has no forecast coverage
NO_FORECAST_MOD, NO_FORECAST_HIT = 37, 5
CPTEC_ONLY = [f"Distrito Isolado {i}" for i in range(8)]

_PREFIX = ["São", "Santa", "Santo", "Vila", "Nova", "Porto", "Campos", "Monte",
           "Rio", "Serra", "Bom", "Águas", "Ilha", "Alto", "Barra"]
_ROOT = ["Andradina", "Barretos", "Cajuru", "Dourado", "Embu", "Franca", "Guaíra",
         "Holambra", "Iacanga", "Jales", "Lins", "Mairinque", "Nuporanga", "Osasco",
         "Pedregulho", "Quatá", "Registro", "Sales", "Tatuí", "Ubatuba", "Valinhos",
         "Cotia", "Itu", "Bauru", "Marília", "Assis", "Avaré", "Bebedouro", "Botucatu",
         "Cravinhos", "Garça", "Ibitinga", "Jaú", "Leme", "Mococa", "Olímpia",
         "Penápolis", "Piraju", "Rancharia", "Sertãozinho", "Taquaritinga", "Tupã",
         "Votuporanga"]
CONDITIONS = [
    ("ps", "Predomínio de Sol"),
    ("c", "Chuva"),
    ("pn", "Parcialmente Nublado"),
    ("n", "Nublado"),
    ("pc", "Pancadas de Chuva"),
    ("t", "Tempestade"),
]
_DATE_FORMATS = ("%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y")


def city_name(i: int) -> str:
    return f"{_PREFIX[i % len(_PREFIX)]} {_ROOT[(i // len(_PREFIX)) % len(_ROOT)]}"


def city_registry() -> list[dict]:
    """IBGE municipios payloads (nested micro/meso region, UF and region
    structs, plus the hyphenated ``regiao-imediata`` struct)."""
    rows = []
    for i in range(CITY_COUNT):
        name = city_name(i)
        row = {
            "id": 3500000 + i,
            "nome": f" {name} " if i % 50 == 3 else name,
            "microrregiao": {
                "id": 35000 + i // 10,
                "nome": f"Micro {i // 10}",
                "mesorregiao": {
                    "id": 3500 + i // 43,
                    "nome": f"Meso {i // 43}",
                    "UF": {
                        "id": 35, "sigla": "SP", "nome": "São Paulo",
                        "regiao": {"id": 3, "sigla": "SE", "nome": "Sudeste"},
                    },
                },
            },
            "regiao-imediata": {"id": 350000 + i // 12, "nome": f"Imediata {i // 12}"},
        }
        rows.append(row)
        if i % 97 == 11:
            rows.append(json.loads(json.dumps(row)))
    return rows


def _cptec_cities() -> list[tuple[int, str]]:
    out = [
        (CPTEC_ID_BASE + i, city_name(i))
        for i in range(CITY_COUNT)
        if i % NO_FORECAST_MOD != NO_FORECAST_HIT
    ]
    out += [(8000 + k, name) for k, name in enumerate(CPTEC_ONLY)]
    return out


def run_dates(start: dt.date, days: int) -> list[str]:
    return [(start + dt.timedelta(days=d)).isoformat() for d in range(days)]


def forecast_records(seed: int, run_date: str) -> list[dict]:
    """CPTEC-shaped forecasts issued on ``run_date``: one record per CPTEC
    city with a ``clima`` array covering run_date .. run_date+5."""
    rng = random.Random(f"{seed}:{run_date}")
    day0 = dt.date.fromisoformat(run_date)
    rows = []
    for codigo, name in _cptec_cities():
        clima = []
        for d in range(HORIZON_DAYS):
            cond, desc = CONDITIONS[rng.randrange(len(CONDITIONS))]
            lo = rng.randrange(8, 22)
            clima.append({
                "data": (day0 + dt.timedelta(days=d)).isoformat(),
                "condicao": cond,
                "condicao_desc": f" {desc} " if rng.random() < 0.1 else desc,
                "min": None if rng.random() < 0.03 else lo,
                "max": lo + rng.randrange(4, 14),
                "indice_uv": rng.randrange(1, 13),
            })
        row = {
            "codigo": codigo,
            "nome": f"  {name} " if rng.random() < 0.08 else name,
            "estado": "SP",
            "atualizado_em": day0.strftime(_DATE_FORMATS[rng.randrange(3)]),
            "clima": clima,
        }
        rows.append(row)
        if codigo == CPTEC_ID_BASE + TWO_ID_CITY:
            rows.append({**json.loads(json.dumps(row)), "codigo": TWO_ID_SECOND})
        if rng.random() < 0.05:
            rows.append(json.loads(json.dumps(row)))
    return rows


def day_rows(records: list[dict]) -> int:
    """Forecast day-rows in a payload (what bronze lands and silver
    explodes)."""
    return sum(len(r["clima"]) for r in records)


def payload_bytes(records: list[dict]) -> int:
    return sum(len(json.dumps(r).encode()) for r in records)


# -- the benchmark's own silver / gold recomputation ------------------------

def _t(v):
    """Spark ``trim``: strips the space character only."""
    return v.strip(" ") if isinstance(v, str) else v


def silver_weather_rows(records: list[dict], run_date: str) -> set[tuple]:
    """Exploded, trimmed, NULL-free, deduplicated forecast rows of one day."""
    out = set()
    for r in records:
        for c in r["clima"]:
            row = (
                _t(r["nome"]), _t(r["estado"]), _t(r["atualizado_em"]),
                _t(c["data"]), _t(c["condicao"]), _t(c["condicao_desc"]),
                c["min"], c["max"], "CPTEC API", run_date,
            )
            if None not in row:
                out.add(row)
    return out


def silver_ibge_rows(cities: list[dict], run_date: str) -> set[tuple]:
    return {
        (
            c["id"], _t(c["nome"]), c["microrregiao"]["id"], _t(c["microrregiao"]["nome"]),
            c["microrregiao"]["mesorregiao"]["UF"]["sigla"],
            c["microrregiao"]["mesorregiao"]["UF"]["regiao"]["nome"],
            c["regiao-imediata"]["id"], _t(c["regiao-imediata"]["nome"]),
            "IBGE API", run_date,
        )
        for c in cities
    }


def silver_cptec_city_rows(records: list[dict], run_date: str) -> set[tuple]:
    return {
        (r["codigo"], _t(r["nome"]), _t(r["estado"]), "CPTEC API", run_date)
        for r in records
    }


def conformed_pairs(cities: list[dict], records: list[dict]) -> set[tuple[int, int]]:
    """(IBGE id, CPTEC id) pairs whose trimmed names are equal: the rows
    ``dim_city`` must hold, once each."""
    ibge: dict[str, set[int]] = {}
    for c in cities:
        ibge.setdefault(_t(c["nome"]), set()).add(c["id"])
    pairs = set()
    for r in records:
        for i in ibge.get(_t(r["nome"]), ()):
            pairs.add((i, r["codigo"]))
    return pairs


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def city_key(id_ibge: int, id_cptec: int) -> str:
    return sha(f"{id_ibge}:{id_cptec}")


def fact_keys(weather_rows: set[tuple], pairs: set[tuple[int, int]],
              names: dict[int, str]) -> set[str]:
    """``id_fact`` = sha256(id_city _ sha256(forecast date) _ sha256(condition))
    for every cleaned forecast row joined by name to its conformed cities.
    ``names`` maps IBGE id to trimmed IBGE name."""
    by_name: dict[str, list[str]] = {}
    for i, c in pairs:
        by_name.setdefault(names[i], []).append(city_key(i, c))
    out = set()
    for row in weather_rows:
        for k in by_name.get(row[0], ()):
            out.add(sha(f"{k}_{sha(row[3])}_{sha(row[4])}"))
    return out
