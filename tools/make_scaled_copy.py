"""Build a K×-scaled copy of the tables behind the four flat-low-core-ratio
headline entries, for the VERDICT r13 Next #7 scaling confirmation ONLY.

    python tools/make_scaled_copy.py <src_sf_dir> <out_dir> [K]

This is measurement scaffolding, not a data path: the entries under test
(`flagship_star_revenue`, `filter_project_pushdown`,
`rollup_pricing_summary`, `similarity_cosine_topk`) showed c8/c32 wall
ratios ≈ 1 at sf0.1, and the hypothesis to confirm is that the flat ratio
is fixed job/planning overhead (which dominates sub-second entries), not
an accidental serial stage. A K× input makes the compute part K× while
the fixed overhead stays — if the hypothesis holds, the c8/c32 ratio
opens toward the compute-bound entries' ~2.2-3.0.

Scaling is plain row duplication (timing-faithful, NOT oracle-valid —
nothing here feeds the correctness gate):
- lineitem, orders: K verbatim copies (their entries aggregate/filter or
  join dimensions; duplicate keys only multiply join fan-out, which is
  exactly the work being measured).
- embeddings: K copies, copy i with vec_id shifted by i·(max(vec_id)+1)
  so ids never collide; the brute-force cosine corpus grows K× while
  the probe set (vec_id < n_probes) stays the original — probes × corpus
  work scales K×.
- customer, nation, region: copied as-is (dimensions).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from weather_bigquery_lakehouse_spark.session import build_session

_DUP = ["lineitem", "orders"]
_ID_OFFSET = ["embeddings"]
_COPY = ["customer", "nation", "region"]


def main() -> None:
    src, out = sys.argv[1], sys.argv[2]
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = build_session(app_name="wbl_make_scaled_copy")
    os.makedirs(out, exist_ok=True)
    for name in _DUP + _ID_OFFSET + _COPY:
        df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        if name in _DUP:
            scaled = df
            for _ in range(k - 1):
                scaled = scaled.unionByName(df)
        elif name in _ID_OFFSET:
            offset = df.agg(F.max("vec_id")).first()[0] + 1
            parts = [
                df.withColumn(
                    "vec_id", (F.col("vec_id") + F.lit(i * offset)).cast("bigint")
                )
                for i in range(k)
            ]
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionByName(p)
        else:
            scaled = df
        scaled.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
        print(f"wrote {name}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
