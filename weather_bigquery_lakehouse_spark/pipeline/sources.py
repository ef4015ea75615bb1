"""Source adapters for the bronze tier (reference S1–S3).

The reference fetches IBGE municipality metadata and CPTEC 6-day forecasts
over HTTP (sync requests + asyncio fan-out with a 20-way semaphore,
reference src/etl/utils/data_ingestion.py). Two design decisions here:

* **Fetching is injectable.** `CitySource`/`ForecastSource` take a
  ``fetch_fn``; production wires an HTTP client (requests/aiohttp — same
  pattern as the reference), tests wire the deterministic fixture below.
  This container has no network access, so the default fetcher raises with
  instructions rather than hanging.

* **Failures drop rows, with accounting.** The reference silently drops
  cities whose lookups fail (data_ingestion.py:20-22,53-56) — lossy by
  design. We keep the tolerance but count drops, so runs are auditable
  (SURVEY.md §7 risk 3).

At 100 TB-scale ingest the driver-side fan-out becomes
``mapInPandas`` over a partitioned id list (each partition fetching its
shard), which is shape-compatible with these adapters.
"""

from __future__ import annotations

import datetime as dt
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

FetchFn = Callable[[str], Any]


def _fetch_concurrent(
    keys: list[str], urls: list[str], fetch: FetchFn, max_concurrent: int
) -> tuple[list[Any], list[str]]:
    """Fan the fetches out over a thread pool bounded by ``max_concurrent``
    (the engine's equivalent of the reference's asyncio gather +
    Semaphore(20) throttle, data_ingestion.py:24-42,59-63). The pool size IS
    the in-flight bound — at most ``max_concurrent`` requests run at once.

    Results come back in INPUT order (like asyncio.gather), truthy payloads
    kept, failures dropped and returned as the second element — the
    reference's lossy-tolerant contract, with accounting."""
    if not keys:
        return [], []
    with ThreadPoolExecutor(max_workers=max(1, max_concurrent)) as pool:
        futures = [pool.submit(fetch, url) for url in urls]
        rows: list[Any] = []
        dropped: list[str] = []
        for key, fut in zip(keys, futures):
            try:
                payload = fut.result()
                if payload:
                    rows.append(payload)
            except Exception:
                dropped.append(key)
    return rows, dropped


def _no_network_fetch(url: str) -> Any:
    raise RuntimeError(
        "no HTTP client configured (this environment is offline); "
        "inject fetch_fn=http_json_fetch() or use "
        "fixture_city_rows()/fixture_forecast_rows()"
    )


def http_json_fetch(timeout: float = 10.0, headers: dict[str, str] | None = None) -> FetchFn:
    """Build a real HTTP fetcher on the stdlib (no new dependencies):
    GET → parse JSON — the engine's adapter for what the reference does
    with requests/aiohttp (data_ingestion.py:6-79). Non-2xx responses,
    timeouts, and connection errors raise, which `_fetch_concurrent`
    converts into dropped-row accounting (the reference's lossy-tolerant
    contract). Thread-safe: one urlopen per call, no shared state, so it
    composes with the bounded thread-pool fan-out.

    City names contain spaces/UTF-8 (name normalization maps '-' → ' ',
    reference bronze_ingest.py:17), so the path is percent-encoded here
    rather than at every call site."""
    import json as _json
    import urllib.parse
    import urllib.request

    def fetch(url: str) -> Any:
        safe = urllib.parse.quote(url, safe=":/?&=%")
        req = urllib.request.Request(safe, headers=headers or {})
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return _json.loads(resp.read().decode("utf-8"))

    return fetch


@dataclass
class SourceStats:
    requested: int = 0
    fetched: int = 0
    dropped: list[str] = field(default_factory=list)


class CitySource:
    """City metadata source (reference `get_ibge_city_data` +
    `get_city_data`, data_ingestion.py:6-42). The reference's per-city
    lookup is an unthrottled asyncio.gather; here the fan-out is a thread
    pool with a (generous) bound so one slow endpoint can't pile up an
    unbounded number of in-flight sockets."""

    def __init__(self, fetch_fn: FetchFn = _no_network_fetch, max_concurrent: int = 64):
        self.fetch = fetch_fn
        self.max_concurrent = max_concurrent
        self.stats = SourceStats()

    def city_rows(self, city_names: list[str], base_url: str = "") -> list[dict]:
        self.stats.requested = len(city_names)
        # Name normalization before lookup (reference bronze_ingest.py:17:
        # '-' → ' ').
        urls = [f"{base_url}/{name.replace('-', ' ')}" for name in city_names]
        rows, dropped = _fetch_concurrent(
            city_names, urls, self.fetch, self.max_concurrent
        )
        self.stats.dropped.extend(dropped)
        self.stats.fetched = len(rows)
        return rows


class ForecastSource:
    """Forecast source with bounded concurrency (reference
    `get_weather_data`, data_ingestion.py:44-79: asyncio fan-out throttled
    by Semaphore(20) — here the 20-thread pool is the same bound)."""

    def __init__(self, fetch_fn: FetchFn = _no_network_fetch, max_concurrent: int = 20):
        self.fetch = fetch_fn
        self.max_concurrent = max_concurrent
        self.stats = SourceStats()

    def forecast_rows(self, city_ids: list[int], days: int = 6, base_url: str = "") -> list[dict]:
        self.stats.requested = len(city_ids)
        keys = [str(cid) for cid in city_ids]
        urls = [f"{base_url}/{cid}/{days}" for cid in city_ids]
        rows, dropped = _fetch_concurrent(keys, urls, self.fetch, self.max_concurrent)
        self.stats.dropped.extend(dropped)
        self.stats.fetched = len(rows)
        return rows


# --- Deterministic fixtures (offline stand-ins for IBGE/CPTEC) -------------

_CONDITIONS = [
    ("ps", "Predomínio de Sol"),
    ("c", "Chuva"),
    ("pn", "Parcialmente Nublado"),
    ("n", "Nublado"),
]


def fixture_city_rows(n: int = 40, seed: int = 42) -> list[dict]:
    """Nested city records shaped like the IBGE municipios payload
    (struct-in-struct, flattened at silver — reference bronze_ingest.py:38-47)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            {
                "id": 3500000 + i,
                "nome": f"Cidade {i:03d}",
                "microrregiao": {
                    "id": 35000 + i // 5,
                    "nome": f"Micro {i // 5}",
                    "mesorregiao": {
                        "id": 3500 + i // 10,
                        "nome": f"Meso {i // 10}",
                        "UF": {
                            "id": 35,
                            "sigla": "SP",
                            "nome": "São Paulo",
                            "regiao": {"id": 3, "sigla": "SE", "nome": "Sudeste"},
                        },
                    },
                },
                "regiao-imediata": {"id": 350000 + i // 8, "nome": f"Imediata {i // 8}"},
            }
        )
    rng.shuffle(rows)
    return rows


def fixture_forecast_rows(
    n_cities: int = 40, days: int = 6, seed: int = 42, ingestion_date: str = "2024-03-25"
) -> list[dict]:
    """CPTEC-shaped forecast records: one record per city with a `clima`
    ARRAY (one element per day, the horizon starting at
    ``ingestion_date``), exploded at silver (bronze_ingest.py:59-60).
    Injects the dirty-data the cleaning tier must handle: mixed date
    formats, stray whitespace, NULLs, exact duplicates."""
    rng = random.Random(seed)
    day0 = dt.date.fromisoformat(ingestion_date)
    # the three `atualizado_em` formats the cleaning tier must collapse
    stamps = [day0.strftime(f) for f in ("%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y")]
    rows = []
    for i in range(n_cities):
        clima = []
        for d in range(days):
            cond = _CONDITIONS[rng.randrange(len(_CONDITIONS))]
            clima.append(
                {
                    "data": (day0 + dt.timedelta(days=d)).isoformat(),
                    "condicao": cond[0],
                    "condicao_desc": (" " + cond[1] + " ") if rng.random() < 0.2 else cond[1],
                    "min": rng.randrange(12, 20) if rng.random() > 0.05 else None,
                    "max": rng.randrange(21, 34),
                    "indice_uv": rng.randrange(1, 12),
                }
            )
        row = {
            "codigo": 4700 + i,
            "nome": f"Cidade {i:03d}" if rng.random() > 0.1 else f"  Cidade {i:03d} ",
            "estado": "SP",
            "atualizado_em": stamps[i % 3],
            "clima": clima,
        }
        rows.append(row)
        if rng.random() < 0.1:
            rows.append(dict(row))  # exact duplicate for the dedup stage
    return rows
