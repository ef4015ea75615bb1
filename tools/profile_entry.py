"""Solo-profile registry entries: per-rep noop-sink wall clock + probe.

    python tools/profile_entry.py <reps> <name> [name ...]

Runs bench.py's warm-up, CPU probe and rep loop (`bench.time_reps`) on a
chosen subset, so an optimization's before/after can be measured without
paying the full 98-entry sweep. Entries run in the order given, under
bench's owner rule: the first entry that builds a shared trained artifact
times its cold build on every rep, later ones read it warm. Prints one
JSON line: {"probe": [start, end], "entries": {name: {"runs": [...],
"median_tail": ..., "min": ...}}, "jvm_args": [...]}. median_tail is the
r13 convention (median of runs 2..N); jvm_args are the driver JVM's
-X/-XX options. Bad arguments exit with a usage message before the JVM
starts.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from weather_bigquery_lakehouse_spark.session import build_session, driver_jvm_args
from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES

USAGE = "usage: python tools/profile_entry.py <reps> <name> [name ...]"


def _parse(argv: list[str]) -> tuple[int, list[str]]:
    if len(argv) < 2 or not argv[0].isdigit() or int(argv[0]) < 1:
        raise SystemExit(f"{USAGE}\n<reps> must be an integer >= 1 and at "
                         "least one entry name must follow")
    unknown = [n for n in argv[1:] if n not in ALL_QUERIES]
    if unknown:
        raise SystemExit(f"{USAGE}\nunknown entries: {', '.join(unknown)}")
    return int(argv[0]), argv[1:]


def main(argv: list[str]) -> None:
    reps, names = _parse(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="wbl_profile")
    bench.warm_up(spark, sf_dir)
    p0 = bench.cpu_probe()
    out: dict[str, dict] = {}
    for name in names:
        times = bench.time_reps(spark, sf_dir, name, reps)
        out[name] = {
            "runs": times,
            "median_tail": round(statistics.median(times[1:] or times), 3),
            "min": min(times),
        }
    p1 = bench.cpu_probe()
    print(json.dumps({"probe": [p0, p1], "entries": out,
                      "jvm_args": driver_jvm_args(spark)}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
