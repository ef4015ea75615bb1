"""Solo-profile registry entries: per-rep noop-sink wall clock + probe.

    python tools/profile_entry.py <reps> <name> [name ...]

Same methodology as bench.py (noop sink, PRE_REP state resets, warm-up)
but for a chosen subset, so an optimization's before/after can be
measured without paying the full 98-entry sweep. Prints one JSON line:
{"probe": [start, end], "entries": {name: {"runs": [...], "median_tail":
..., "min": ...}}, "jvm_args": [...]}. median_tail is the r13 convention
(median of runs 2..N); jvm_args are the driver JVM's -X/-XX options.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_bigquery_lakehouse_spark.session import build_session, driver_jvm_args
from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES


def _cpu_probe_s() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i * i
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    reps = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench  # PRE_REP registry lives there

    spark = build_session(app_name="wbl_profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    p0 = _cpu_probe_s()
    out: dict[str, dict] = {}
    for name in names:
        fn = ALL_QUERIES[name].fn
        times: list[float] = []
        for _ in range(reps):
            bench.PRE_REP.get(name, lambda _d: None)(sf_dir)
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "runs": times,
            "median_tail": round(statistics.median(times[1:] or times), 3),
            "min": min(times),
        }
    p1 = _cpu_probe_s()
    print(json.dumps({"probe": [p0, p1], "entries": out,
                      "jvm_args": driver_jvm_args(spark)}))
    spark.stop()


if __name__ == "__main__":
    main()
