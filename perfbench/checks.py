"""Output checks, kept apart from the program.

Each checker takes plain rows (read back from the files the program wrote,
or collected from a returned frame) and returns a list of problems; an empty
list means the output is correct. None of them imports the program.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

from gen_weather import city_key


def _norm(v) -> str:
    """Strict value rendering: no float rounding, sign-strict zeros."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    """Order-insensitive hash over rows, with columns taken in name order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def result_signature(rows, colnames) -> tuple[int, tuple[str, ...], str]:
    return len(rows), tuple(sorted(colnames)), value_hash(rows, colnames)


def check_result(got: tuple, want: tuple) -> list[str]:
    """Compare two ``result_signature``s: row count, column set, value hash."""
    problems = []
    if got[0] != want[0]:
        problems.append(f"rows {got[0]} vs oracle {want[0]}")
    if got[1] != want[1]:
        problems.append(f"columns {list(got[1])} vs oracle {list(want[1])}")
    if not problems and got[2] != want[2]:
        problems.append("value hash differs from oracle")
    return problems


def check_counts(what: str, got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [
        f"{what}[{k}]: {got.get(k, 0)} rows, expected {want.get(k, 0)}"
        for k in sorted(set(got) | set(want))
        if got.get(k, 0) != want.get(k, 0)
    ]


def check_dim_city(rows: list[tuple], pairs: set[tuple[int, int]]) -> list[str]:
    """``rows`` are (id_ibge, id_cptec, id_city): exactly one row per
    name-conformed pair, keyed by sha256('ibge:cptec')."""
    problems = []
    seen = Counter((r[0], r[1]) for r in rows)
    dup = {p: n for p, n in seen.items() if n > 1}
    if dup:
        worst = max(dup.values())
        problems.append(
            f"dim_city: {len(rows)} rows for {len(pairs)} pairs; "
            f"{len(dup)} pairs repeated, up to {worst}x"
        )
    missing, extra = pairs - set(seen), set(seen) - pairs
    if missing or extra:
        problems.append(f"dim_city: {len(missing)} pairs missing, {len(extra)} unexpected")
    bad_key = sum(1 for r in rows if r[2] != city_key(r[0], r[1]))
    if bad_key:
        problems.append(f"dim_city: {bad_key} rows with a wrong id_city")
    return problems


def check_fact(rows: list[tuple], dim_keys: dict[str, list[str]],
               expected_ids: set[str]) -> list[str]:
    """``rows`` are (id_fact, _ingestion_date, id_city, id_update_date,
    id_forecast_date, id_weather_condition). Every id_fact is unique within
    its partition, every foreign key matches exactly one dim row, and the set
    of id_fact equals the recomputed keys."""
    problems = []
    per_part = Counter((r[0], r[1]) for r in rows)
    dup = sum(n - 1 for n in per_part.values() if n > 1)
    if dup:
        problems.append(f"fact_weather: {dup} repeated id_fact rows within partitions")
    for col, (dim, keys) in enumerate(dim_keys.items(), start=2):
        counts = Counter(keys)
        unmatched = sum(1 for r in rows if counts.get(r[col], 0) != 1)
        if unmatched:
            problems.append(f"fact_weather: {unmatched} rows do not join exactly one {dim} row")
    ids = {r[0] for r in rows}
    if ids != expected_ids:
        problems.append(
            f"fact_weather: {len(expected_ids - ids)} id_fact missing, "
            f"{len(ids - expected_ids)} unexpected"
        )
    return problems


def tree_state(*roots: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_new(before: dict, after: dict) -> int:
    """Bytes of files present in ``after`` that were written since ``before``."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def stored_bytes(state: dict) -> int:
    """Bytes on disk, counting hard-linked files once."""
    return sum({v[0]: v[1] for v in state.values()}.values())
