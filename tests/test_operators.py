"""Operator tests: star schema key agreement, dedup recall/precision on
constructed near-duplicates, similarity ranking, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_bigquery_lakehouse_spark.operators import dedup as dd
from weather_bigquery_lakehouse_spark.operators import multimodal as mm
from weather_bigquery_lakehouse_spark.operators import similarity as sim
from weather_bigquery_lakehouse_spark.operators import text as tx
from weather_bigquery_lakehouse_spark.operators.star_schema import (
    build_dim_distinct,
    build_fact,
)
from weather_bigquery_lakehouse_spark.functions.keys import surrogate_key


def test_dim_and_fact_keys_agree(spark):
    """The reference's core invariant: fact FKs are recomputed hashes of the
    same natural keys the dims hash, so fact⋈dim on the surrogate key loses
    no rows (silver_to_gold.py:110-113 vs :158-166)."""
    base = spark.createDataFrame([("2024-01-01",), ("2024-01-02",)], "d string")
    dim = build_dim_distinct(base, ["d"], "id_d")
    fact = build_fact(
        base,
        dim_joins=[],
        fk_exprs={"id_d": surrogate_key("d")},
        fact_key_name="id_f",
        fact_key_cols=[surrogate_key("d")],
        measures=[F.col("d")],
    )
    joined = fact.join(dim, "id_d", "inner")
    assert joined.count() == fact.count() == 2


DOC_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2, "the quick brown fox jumps over the lazy dog and runs far away home today"),  # near-dup of 1
    (3, "completely different content about spark query engines and shuffles here"),
    (4, "the quick brown fox jumps over the lazy dog and runs far away home"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOC_ROWS, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    groups = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup_groups(docs).collect()}
    assert groups[1] == 2  # docs 1 and 4 collapse
    assert groups[3] == 1


def test_lsh_finds_near_dup_pair(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_lsh_bucket_cap_drops_viral_cluster(spark):
    """The max_bucket_size guardrail: a 1k-doc duplicate cluster lands every
    copy in the same bucket per band; capped, those buckets are dropped and
    the pair output stays bounded instead of going to ~n²/2 rows."""
    viral = [(i, "the same viral boilerplate page content repeated verbatim everywhere") for i in range(1000)]
    distinct_pair = [
        (2000, "one unusual document about catalyst optimizer internals and codegen"),
        (2001, "one unusual document about catalyst optimizer internals and codegen today"),
    ]
    df = spark.createDataFrame(viral + distinct_pair, "doc_id long, text string")

    capped = dd.lsh_candidate_pairs(df, max_bucket_size=100).collect()
    ids_in_pairs = {r["doc_a"] for r in capped} | {r["doc_b"] for r in capped}
    # the viral cluster contributes NO pairs; the small near-dup pair survives
    assert ids_in_pairs == {2000, 2001}
    assert len(capped) == 1

    # sanity: a cluster under the cap still produces its full pair set
    small = spark.createDataFrame(viral[:50], "doc_id long, text string")
    pairs = dd.lsh_candidate_pairs(small, max_bucket_size=100).collect()
    assert len(pairs) == 50 * 49 // 2


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_edit_distance_pairs_matches_python_reference(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),  # 2 edits
        (3, "totally unrelated text about something else entirely"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["edit_distance"], r["sim_ppm"])
        for r in dd.edit_distance_pairs(
            docs, candidates=cand, min_sim_ppm=0
        ).collect()
    }
    txt = dict(rows)
    for (a, b), (lev, sim) in got.items():
        exp_lev = _py_lev(txt[a], txt[b])
        maxlen = max(len(txt[a]), len(txt[b]))
        assert lev == exp_lev
        assert sim == ((maxlen - exp_lev) * 1_000_000) // maxlen
    assert got[(1, 4)] == (0, 1_000_000)
    assert got[(1, 2)][1] > 900_000 > got[(1, 3)][1]


def test_edit_distance_property_matches_reference(spark):
    """Randomized corpora (incl. empty and whitespace-only texts, which
    exercise the maxlen=0 branch) against the pure-Python DP."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab c", min_size=0, max_size=12),
            min_size=2,
            max_size=5,
        )
    )
    def check(texts):
        rows = list(enumerate(texts))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cand = spark.createDataFrame(
            [(a, b) for a in range(len(rows)) for b in range(a + 1, len(rows))],
            "doc_a long, doc_b long",
        )
        got = {
            (r["doc_a"], r["doc_b"]): (r["edit_distance"], r["sim_ppm"])
            for r in dd.edit_distance_pairs(
                docs, candidates=cand, min_sim_ppm=0
            ).collect()
        }
        exp = {}
        for a in range(len(rows)):
            for b in range(a + 1, len(rows)):
                lev = _py_lev(texts[a], texts[b])
                m = max(len(texts[a]), len(texts[b]))
                sim = 1_000_000 if m == 0 else ((m - lev) * 1_000_000) // m
                exp[(a, b)] = (lev, sim)
        assert got == exp

    check()


def test_edit_distance_threshold_and_length_prefilter_agree(spark):
    """The length-gap prefilter must be an exact superset of the final
    predicate: results with the prefilter (production path) equal a run
    where the bound can never trigger (min_sim_ppm=0, filtered after)."""
    rows = [(i, "base text " * (1 + i % 5) + "tail") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(a + 1, 20)],
        "doc_a long, doc_b long",
    )
    strict = {
        (r["doc_a"], r["doc_b"]): r["sim_ppm"]
        for r in dd.edit_distance_pairs(
            docs, candidates=cand, min_sim_ppm=700_000
        ).collect()
    }
    loose = {
        (r["doc_a"], r["doc_b"]): r["sim_ppm"]
        for r in dd.edit_distance_pairs(
            docs, candidates=cand, min_sim_ppm=0
        ).collect()
        if r["sim_ppm"] >= 700_000
    }
    assert strict == loose and strict  # non-empty and identical


def test_edit_distance_prefix_cap_bounds_the_kernel(spark):
    """max_chars caps the compared prefix: two docs identical in the first
    max_chars chars score 1.0 even when their tails differ."""
    rows = [(1, "x" * 100 + "AAA"), (2, "x" * 100 + "BBBBBB")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    capped = dd.edit_distance_pairs(
        docs, candidates=cand, min_sim_ppm=0, max_chars=100
    ).collect()
    assert capped[0]["edit_distance"] == 0 and capped[0]["sim_ppm"] == 1_000_000
    full = dd.edit_distance_pairs(
        docs, candidates=cand, min_sim_ppm=0, max_chars=10_000
    ).collect()
    assert full[0]["edit_distance"] == 6  # AAA -> BBBBBB


def test_jaccard_scores(docs):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert out[(1, 4)] == 1.0          # exact dup
    assert 0.5 < out[(1, 2)] < 1.0     # near dup
    assert (1, 3) not in out


def test_simhash_near_dups_close(docs):
    vals = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert vals[1] == vals[4]  # identical text → identical simhash
    ham_near = bin(vals[1] ^ vals[2]).count("1")
    ham_far = bin(vals[1] ^ vals[3]).count("1")
    assert ham_near < ham_far


def test_cosine_topk_ranks_by_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.7, 0.7, 0.0]),   # middle
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.where(F.col("vec_id") == 0)
    out = sim.cosine_topk(emb, probes, k=3)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked == [1, 3, 2]


def test_lsh_topk_subset_of_bucket(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.where(F.col("vec_id") == 0)
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = sim.lsh_bucketed_topk(emb, probes, planes, k=3).collect()
    # candidates restricted to probe's bucket — never more than corpus
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in out)


def test_multiprobe_lsh_lifts_recall(spark):
    """Multi-probe (exact bucket + Hamming-1 neighbors) must strictly lift
    recall vs single-probe on clustered vectors, and clear a fixed bound.
    All inputs are seeded, so the recalls are exact reproducible values."""
    import random

    rng = random.Random(7)
    dim = 16
    rows = []
    for c in range(20):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for j in range(10):
            rows.append((c * 10 + j, [x + rng.uniform(-0.15, 0.15) for x in center]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[round(rng.uniform(-1, 1), 6) for _ in range(dim)] for _ in range(6)]
    probes = df.where(F.col("vec_id") % 10 == 0)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(df, probes, k=5).collect()
    }

    def recall(n_probes):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.lsh_bucketed_topk(
                df, probes, planes, k=5, n_probes=n_probes
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 > r1, f"multi-probe did not lift recall: {r1} -> {r4}"
    assert r1 >= 0.7 and r4 >= 0.8, f"recall below bound: r1={r1}, r4={r4}"


def test_sizing_rules():
    """The sizing functions ARE the 100 TB story — pin the worked examples
    from the module docstring."""
    from weather_bigquery_lakehouse_spark.operators import sizing as sz

    assert sz.lsh_n_planes(500, target_bucket_occupancy=8) == 6  # gate corpus
    assert sz.lsh_n_planes(4096, 64) == 6
    assert sz.lsh_n_planes(10**11, 256) == 29  # 100 TB text corpus
    assert sz.ivf_n_cells(500) == 22
    assert sz.ivf_n_cells(10**9) == 31622  # still broadcastable (~8 MB)
    assert abs(sz.minhash_lsh_threshold(16, 2) - 0.3536) < 1e-3
    planes = sz.random_hyperplanes(3, 4, seed=1)
    assert planes == sz.random_hyperplanes(3, 4, seed=1)  # deterministic
    assert len(planes) == 3 and len(planes[0]) == 4


def test_sized_ann_recall_at_nontoy_scale(spark):
    """Recall@10 vs the exact baseline at a non-toy parameterization the
    sizing rules chose themselves: 4096 clustered vectors (64 clusters),
    planes = lsh_n_planes(4096, 64) = 6, cells = ivf_n_cells(4096) = 64.
    The bound is what the seeded data actually achieves (deterministic),
    with slack for float/jitter — a refactor that degrades bucketing or
    assignment breaks it."""
    import random as pyrandom

    from weather_bigquery_lakehouse_spark.operators import sizing as sz

    n_clusters, per_cluster, dim, n_probes_q, k = 64, 64, 16, 24, 10
    n = n_clusters * per_cluster
    rng = pyrandom.Random(7)
    bases = [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    # id = member*64 + cluster → ids 0..63 are one vector per cluster, so
    # IVF's first-n_cells centroid stand-in gets one centroid per cluster
    for c in range(n_clusters):
        for m in range(per_cluster):
            vec = [x + rng.uniform(-0.15, 0.15) for x in bases[c]]
            rows.append((m * n_clusters + c, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.where(F.col("vec_id") < n_probes_q)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, probes, k=k).collect()
    }
    assert len(exact) == n_probes_q * k

    n_planes = sz.lsh_n_planes(n, target_bucket_occupancy=64)
    planes = sz.random_hyperplanes(n_planes, dim, seed=11)
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_bucketed_topk(emb, probes, planes, k=k, n_probes=4).collect()
    }
    lsh_recall = len(lsh & exact) / len(exact)

    cells = sz.ivf_n_cells(n)
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, probes, n_cells=cells, k=k).collect()
    }
    ivf_recall = len(ivf & exact) / len(exact)

    # deterministic data: measured LSH 0.8875, IVF 1.0 — bounds leave
    # real slack yet catch any bucketing/assignment degradation
    assert lsh_recall >= 0.75, f"LSH recall@{k} collapsed: {lsh_recall:.2f}"
    assert ivf_recall >= 0.95, f"IVF recall@{k} collapsed: {ivf_recall:.2f}"


def test_language_id_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a king"), (2, "le chat et les chiens est la"), (3, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in tx.language_id(df).collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "und"


def test_ivf_topk_finds_cluster_neighbors(spark):
    """IVF with first-C-vectors centroids: on clustered data, cell-local
    search recovers most exact neighbors (cluster mates share a cell)."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    for c in range(8):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for j in range(12):
            # vec_ids 0..7 are the first vector of each cluster → centroids
            vid = c if j == 0 else 8 + c * 11 + (j - 1)
            rows.append((vid, [x + rng.uniform(-0.1, 0.1) for x in center]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(df, probes, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(df, probes, n_cells=8, k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


class TestTemporal:
    def _frames(self, spark):
        from weather_bigquery_lakehouse_spark.operators import temporal as tp

        left = spark.createDataFrame(
            [
                (1, "u", "2024-01-01 10:00:00"),
                (2, "u", "2024-01-01 12:00:00"),
                (3, "u", "2024-01-01 09:00:00"),  # before any right row
                (4, "v", "2024-01-01 11:00:00"),  # user with no right rows
            ],
            "event_id long, user string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [
                ("u", "2024-01-01 10:00:00", 100),
                ("u", "2024-01-01 11:30:00", 200),
            ],
            "user string, r_ts string, r_val int",
        ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        return tp, left, right

    def test_asof_join_strict(self, spark):
        tp, left, right = self._frames(spark)
        out = {
            r["event_id"]: r["r_val"]
            for r in tp.asof_join(left, right, "user", "ts", "r_ts", strict=True).collect()
        }
        # strict: the 10:00 left row must NOT see the 10:00 right row
        assert out == {1: None, 2: 200, 3: None, 4: None}

    def test_asof_join_inclusive(self, spark):
        tp, left, right = self._frames(spark)
        out = {
            r["event_id"]: r["r_val"]
            for r in tp.asof_join(left, right, "user", "ts", "r_ts", strict=False).collect()
        }
        assert out == {1: 100, 2: 200, 3: None, 4: None}

    def test_asof_join_null_values_not_torn(self, spark):
        """A genuine NULL in the matched right row must survive, and the
        attached columns must all come from THAT row — per-column
        last(ignorenulls) fills would resurrect an older non-null for the
        NULL column while taking the other column from the newer row."""
        from weather_bigquery_lakehouse_spark.operators import temporal as tp

        left = spark.createDataFrame(
            [(1, "u", "2024-01-01 12:00:00")],
            "event_id long, user string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [
                ("u", "2024-01-01 10:00:00", 100, "old"),
                ("u", "2024-01-01 11:00:00", None, "new"),  # the as-of match
            ],
            "user string, r_ts string, r_val int, r_tag string",
        ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        [row] = tp.asof_join(left, right, "user", "ts", "r_ts").collect()
        assert row["r_tag"] == "new"
        assert row["r_val"] is None  # NOT 100 from the older row

    def test_asof_join_rejects_column_collision(self, spark):
        tp, left, right = self._frames(spark)
        bad = right.withColumnRenamed("r_val", "event_id")
        with pytest.raises(ValueError, match="collide"):
            tp.asof_join(left, bad, "user", "ts", "r_ts")

    def test_range_join_count_boundaries(self, spark):
        """[t-W, t) semantics at exact boundaries: a right row exactly W
        before is IN, a right row exactly at t is OUT — including when the
        left row sits exactly on a bucket edge."""
        from weather_bigquery_lakehouse_spark.operators import temporal as tp

        left = spark.createDataFrame(
            [
                (1, "u", "2024-01-01 10:00:00"),  # exactly on the hour bucket edge
                (2, "u", "2024-01-01 10:30:00"),
                (3, "v", "2024-01-01 10:00:00"),  # no right rows for v
            ],
            "event_id long, user string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [
                ("u", "2024-01-01 09:00:00"),  # == t1 - W → counts for t1 only
                ("u", "2024-01-01 09:59:59"),  # counts for t1 and t2
                ("u", "2024-01-01 10:00:00"),  # == t1 → excluded for t1, counts for t2
                ("u", "2024-01-01 10:30:00"),  # == t2 → excluded
            ],
            "user string, r_ts string",
        ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        out = {
            r["event_id"]: r["n_in_range"]
            for r in tp.range_join_count(
                left, right, "user", "ts", "r_ts", window_seconds=3600
            ).collect()
        }
        assert out == {1: 2, 2: 2, 3: 0}

    def test_range_join_pre_epoch_timestamps(self, spark):
        """Bucketing must be floor-consistent for negative epoch micros:
        truncate-toward-zero division puts a pre-1970 right row one bucket
        too HIGH, silently missing matches inside the window."""
        from weather_bigquery_lakehouse_spark.operators import temporal as tp

        left = spark.createDataFrame(
            [(1, "u", "1969-12-31 23:30:00")],
            "event_id long, user string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [
                ("u", "1969-12-31 23:00:00"),  # == t - W → in range
                ("u", "1969-12-31 23:15:00"),  # in range
                ("u", "1969-12-31 23:30:00"),  # == t → excluded
            ],
            "user string, r_ts string",
        ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        [row] = tp.range_join_count(
            left, right, "user", "ts", "r_ts", window_seconds=1800
        ).collect()
        assert row["n_in_range"] == 2

    def test_sessionize_gaps(self, spark):
        from weather_bigquery_lakehouse_spark.operators import temporal as tp

        df = spark.createDataFrame(
            [
                ("u", "2024-01-01 10:00:00", 1.0),
                ("u", "2024-01-01 10:20:00", 2.0),   # same session (gap 20m)
                ("u", "2024-01-01 12:00:00", 4.0),   # new session (gap >30m)
                ("v", "2024-01-01 10:00:00", 8.0),
            ],
            "user string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r["user"], r["session_idx"]): (r["n_events"], r["total_value"])
            for r in tp.sessionize(df, "user", "ts", gap_seconds=1800, value_col="value").collect()
        }
        assert out == {("u", 1): (2, 3.0), ("u", 2): (1, 4.0), ("v", 1): (1, 8.0)}


def test_salted_join_equals_plain_join(spark):
    """The salt must change only the shuffle layout, never the result —
    including duplicate left rows (same hash → same salt) and left-outer
    unmatched rows."""
    from weather_bigquery_lakehouse_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "hot", "cold") for i in range(50)] + [("orphan", 0)],
        "k string, i long",
    )
    right = spark.createDataFrame(
        [("hot", 1.5), ("cold", 2.5), ("unused", 9.9)], "k string, v double"
    )
    for how in ("inner", "left"):
        got = sorted(
            ((r["k"], r["i"], r["v"]) for r in salted_join(left, right, "k", 4, how).collect())
        )
        want = sorted(
            ((r["k"], r["i"], r["v"]) for r in left.join(right, "k", how).collect())
        )
        assert got == want, how


def test_multimodal_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        mm.decode_image_stub(b"abc")


def test_multimodal_decode_pipeline(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    payload = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    media = mm.attach_media(payload, "payload", "image/png", id_col="doc_id")
    row = mm.decode_media(media, fake=True).first()
    assert row["media_id"] == 1
    assert row["width"] == 64 + ord("h") and row["height"] == 64 + ord("e")
    assert row["n_bytes"] == 11 and row["mime"] == "image/png"


def test_multimodal_null_payload_propagates(spark):
    """A NULL payload must yield NULL features, not kill the decode stage."""
    df = spark.createDataFrame(
        [(1, b"hi"), (2, None)], "doc_id long, payload binary"
    )
    media = mm.attach_media(df, "payload", "image/png", id_col="doc_id")
    rows = {r["media_id"]: r for r in mm.decode_media(media, fake=True).collect()}
    assert rows[1]["checksum"] is not None and rows[1]["width"] == 64 + ord("h")
    assert rows[2]["checksum"] is None
    assert rows[2]["width"] is None and rows[2]["height"] is None
    assert rows[2]["n_bytes"] is None


def test_frame_sample_offsets(spark):
    df = spark.createDataFrame([(1, b"x" * 2500)], "doc_id long, payload binary")
    media = mm.attach_media(df, "payload", "video/mp4", id_col="doc_id")
    rows = mm.frame_sample(media, every_n_bytes=1000).collect()
    assert [(r["frame_idx"], r["offset"]) for r in rows] == [(0, 0), (1, 1000), (2, 2000)]


def test_minhash_lsh_candidate_recall_vs_jaccard_truth(spark, sf_dir):
    """Justify the 16-hash / 8×2-band choice with a number: candidate
    recall vs exact n-gram-Jaccard ground truth. Banding theory puts the
    s-curve midpoint at (1/8)^(1/2) ≈ 0.354, so pairs at J ≥ 0.5 should
    be candidates with p = 1-(1-s²)⁸ ≥ 0.90 — measured (seeded, exact):
    1.0 at J ≥ 0.5 and ~0.94 at J ≥ 0.354, on a corpus built to have
    partial overlaps AROUND the threshold (the gate tables' dups are
    near-identical, where recall is trivially 1.0 — also asserted)."""
    import random as pyrandom

    from weather_bigquery_lakehouse_spark.io.readers import load_testdata
    from weather_bigquery_lakehouse_spark.operators import sizing as sz

    # gate data: near-identical duplicates must never be missed
    docs = load_testdata(spark, sf_dir, ["documents"])["documents"]
    truth = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(docs).collect()}
    assert truth and len(cand & truth) == len(truth)

    # synthetic corpus with overlaps spanning the s-curve
    rng = pyrandom.Random(13)
    vocab = [f"w{i:03d}" for i in range(600)]
    rows, did = [], 0
    for _pair in range(40):
        base = rng.sample(vocab, 30)
        n_repl = rng.choice([2, 4, 6, 8, 10])
        variant = list(base)
        for idx in rng.sample(range(30), n_repl):
            variant[idx] = rng.choice(vocab)
        rows.append((did, " ".join(base)))
        rows.append((did + 1, " ".join(variant)))
        did += 2
    for _ in range(200):
        rows.append((did, " ".join(rng.sample(vocab, 30))))
        did += 1
    syn = spark.createDataFrame(rows, "doc_id long, text string")

    s_mid = sz.minhash_lsh_threshold(dd.N_HASHES, dd.BAND_ROWS)
    assert abs(s_mid - 0.3536) < 1e-3  # 8 bands × 2 rows
    truth_hi = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(syn, threshold=0.5).collect()
    }
    truth_mid = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(syn, threshold=s_mid).collect()
    }
    syn_cand = {(r.doc_a, r.doc_b) for r in dd.lsh_candidate_pairs(syn).collect()}
    recall_hi = len(syn_cand & truth_hi) / len(truth_hi)
    recall_mid = len(syn_cand & truth_mid) / len(truth_mid)
    assert recall_hi >= 0.95, f"recall@J≥0.5 collapsed: {recall_hi:.2f}"
    assert recall_mid >= 0.85, f"recall@s-curve midpoint collapsed: {recall_mid:.2f}"
    # candidate set stays pair-sized, not corpus-squared (banding precision)
    assert len(syn_cand) <= 3 * len(truth_mid)


def test_ivf_multicell_probe_lifts_recall(spark):
    """n_probe_cells is IVF's recall lever: searching each probe's P
    nearest cells must lift recall@10 monotonically over P=1 (boundary
    neighbors live just across a cell edge). Seeded → exact reproducible
    recalls: 0.877 → 0.933 → 0.967 for P=1/2/4 on uniform vectors."""
    import random as pyrandom

    rng = pyrandom.Random(5)
    n, dim, k, nq = 2000, 16, 10, 30
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.where(F.col("vec_id") < nq)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, probes, k=k).collect()
    }

    def recall(p):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivf_topk(
                emb, probes, n_cells=44, k=k, n_probe_cells=p
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 < r2 < r4, f"no monotone lift: {r1} {r2} {r4}"
    assert r1 >= 0.8 and r4 >= 0.9, f"recall floor broken: {r1} {r4}"


def test_ivfpq_probe_width_widens_candidates_monotonically(spark):
    """IVF-PQ inherits IVF's recall lever with PQ's scoring: widening
    n_probe_cells can only ADD (query, neighbor) candidates — the scored
    set is monotone in P (each probe's cell list is a prefix of its
    ranked cells), so recall vs the L2 ground truth is non-decreasing
    and P = n_cells recovers exhaustive ADC exactly (pinned elsewhere)."""
    import random as pyrandom

    from weather_bigquery_lakehouse_spark.operators.similarity import ivfpq_topk

    rng = pyrandom.Random(11)
    n, dim = 400, 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.where(F.col("vec_id") < 8)
    kw = dict(dim=dim, n_cells=10, m=4, n_codes=8, k=10**6)
    sets = {}
    for p in (1, 3, 10):
        sets[p] = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(emb, probes, n_probe_cells=p, **kw).collect()
        }
    assert sets[1] < sets[3] <= sets[10]  # widening only adds candidates


def test_feature_hash_embed_forms_agree(spark):
    """The expression form (per-row HOF, fine for small inputs) and the
    frame form (explode + codegen hash + combinable counts, the corpus
    path) must produce identical vectors — including empty buckets."""
    from pyspark.sql import functions as F

    from weather_bigquery_lakehouse_spark.operators.similarity import (
        feature_hash_embed,
        feature_hash_embed_frame,
    )

    df = spark.createDataFrame(
        [(1, ["alpha", "beta", "alpha"]), (2, ["gamma"]), (3, ["x", "y", "z", "x"]),
         (4, [])],  # empty-token row: both forms must emit a zero vector
        "vec_id long, toks array<string>",
    )
    expr = {
        r.vec_id: r.emb
        for r in df.select(
            "vec_id", feature_hash_embed(F.col("toks"), 8).alias("emb")
        ).collect()
    }
    frame = {
        r.vec_id: r.embedding
        for r in feature_hash_embed_frame(df, F.col("toks"), 8).collect()
    }
    assert expr == frame
    assert all(
        sum(v) == n for v, n in ((expr[1], 3), (expr[2], 1), (expr[3], 4), (expr[4], 0))
    )


def test_pq_adc_exact_when_vectors_are_codewords(spark):
    """PQ's quantization error vanishes when every corpus vector is
    composed of codewords: the encode reproduces each vector exactly, so
    the ADC distance equals the true squared L2 — a deterministic
    correctness pin on both the encode argmin and the table-sum scoring.
    Also pins the ranking: nearest codeword-built vector wins rank 1."""
    import itertools

    from weather_bigquery_lakehouse_spark.operators.similarity import pq_topk

    dim, m, n_codes = 8, 4, 4  # sub = 2
    # codebook vectors 0..3: constant subvectors [c, c] per subspace
    base = [[float(c)] * dim for c in range(n_codes)]
    # vectors 4..7: mix-and-match codeword slices (still exactly encodable)
    mixes = [
        [0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0],
        [3.0, 3.0, 2.0, 2.0, 1.0, 1.0, 0.0, 0.0],
        [1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0],
        [2.0, 2.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0],
    ]
    vecs = base + mixes
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    probes = emb.where("vec_id >= 4")
    out = pq_topk(emb, probes, dim=dim, m=m, n_codes=n_codes, k=len(vecs))
    got = {(r.query_id, r.neighbor_id): r for r in out.collect()}

    def l2sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for q, n in itertools.product(range(4, 8), range(len(vecs))):
        if q == n:
            assert (q, n) not in got
            continue
        assert got[(q, n)].approx_l2sq == round(l2sq(vecs[q], vecs[n]), 6)
    # ranking follows true distance (ties broken by neighbor id)
    for q in range(4, 8):
        ranked = sorted(
            (r.rank, r.neighbor_id) for (qq, _), r in got.items() if qq == q
        )
        trued = sorted(
            (round(l2sq(vecs[q], vecs[n]), 6), n)
            for n in range(len(vecs))
            if n != q
        )
        assert [n for _, n in ranked] == [n for _, n in trued]


def test_embedding_covariance_matches_numpy_and_whitening_identity(spark):
    """The covariance operator must agree with numpy's population
    covariance on the raw vectors (within micro-quantization error), emit
    exactly dim(dim+1)/2 upper-triangle rows, and the derived whitening
    transform must map the corpus to ~identity covariance — eigh runs on
    bounded dim×dim metadata, the rest stays distributed."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.embeddings import (
        apply_whitening,
        embedding_covariance,
        whitening_transform,
    )

    dim = 64
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_covariance(emb, dim).collect()
    assert len(rows) == dim * (dim + 1) // 2
    got = np.zeros((dim, dim))
    for r in rows:
        got[r.i, r.j] = got[r.j, r.i] = r.cov
    x = np.array([r.embedding for r in emb.select("embedding").collect()])
    ref = np.cov(x, rowvar=False, bias=True)
    assert np.allclose(got, ref, atol=1e-4)

    w, mu = whitening_transform(emb, dim)
    white = np.array(
        [r.embedding for r in apply_whitening(emb, w, mu).collect()]
    )
    cw = np.cov(white, rowvar=False, bias=True)
    assert np.allclose(cw, np.eye(dim), atol=1e-2)

    # the id column's type is the caller's, not hardcoded long: a string
    # id corpus must project through unchanged
    sm = emb.limit(3).withColumn("vec_id", F.concat(F.lit("v"), "vec_id"))
    out = apply_whitening(sm, w, mu)
    assert dict(out.dtypes)["vec_id"] == "string"
    assert {r.vec_id for r in out.collect()} == {
        r.vec_id for r in sm.select("vec_id").collect()
    }


def test_embedding_covariance_numerator_survives_int64_overflow(spark):
    """The covariance numerator n*G - S_i*S_j reaches (n*scale*|x|)^2 —
    int64 wraps SILENTLY (non-ANSI long multiply) near n = 1.5e3 at
    micro scale with |x| = 2; the decimal(38,0)/HUGEINT formulation must
    keep agreeing with numpy there. 3000 rows of magnitude-2 values put
    n*G at ~3.6e19 > 2^63, so the pre-fix code returns wrapped garbage
    on exactly this corpus."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.embeddings import (
        embedding_covariance,
    )

    n, dim = 3000, 2
    vals = [
        (i, [2.0 if (i * 7 + k) % 3 else -2.0 for k in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(vals, "vec_id long, embedding array<double>")
    got = np.zeros((dim, dim))
    for r in embedding_covariance(emb, dim).collect():
        got[r.i, r.j] = got[r.j, r.i] = r.cov
    x = np.array([v for _, v in vals])
    ref = np.cov(x, rowvar=False, bias=True)
    assert np.allclose(got, ref, atol=1e-4), (got, ref)


def test_covariance_cache_evicts_same_plan_and_never_serves_stale(
    spark, tmp_path
):
    """The stats-cache registry (ADVICE r10): repeat covariance calls over
    the same corpus must not grow the registry (same-canonicalized-plan
    eviction), and recomputing after the source parquet is overwritten IN
    PLACE must return fresh values — Spark's CacheManager would otherwise
    match the canonicalized plan and serve the stale materialization."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators import embeddings as em

    def write(rows):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        df.write.mode("overwrite").parquet(str(tmp_path / "emb"))

    def cov_cell(i, j):
        emb = spark.read.parquet(str(tmp_path / "emb"))
        out = {(r.i, r.j): r.cov for r in em.embedding_covariance(emb, 2).collect()}
        return out[(i, j)]

    em.purge_covariance_cache()
    try:
        write([(k, [float(k), float(k % 3)]) for k in range(10)])
        first = cov_cell(0, 0)
        assert len(em._COV_STATS_CACHE) == 1
        # repeat over the SAME corpus: registry must not grow
        assert cov_cell(0, 0) == first
        assert len(em._COV_STATS_CACHE) == 1, "same-plan frame not evicted"

        # in-place overwrite: the recompute must see the NEW data
        write([(k, [2.0 * k, float(k % 5)]) for k in range(10)])
        second = cov_cell(0, 0)
        xs = np.array([2.0 * k for k in range(10)])
        assert abs(second - xs.var()) < 1e-4, (second, xs.var())
        assert second != first
        assert len(em._COV_STATS_CACHE) == 1
    finally:
        em.purge_covariance_cache()
    assert not em._COV_STATS_CACHE


def test_ivfpq_reduces_to_exhaustive_pq_at_full_probe_width(spark):
    """IVF-PQ's one exactness anchor: probing EVERY cell removes the IVF
    pruning, so the output must equal exhaustive-ADC pq_topk row for row
    (same codebook, same integer-micro distances, same tie-breaks) — and
    narrowing the probe width can only lose candidates, never invent or
    re-score them."""
    from weather_bigquery_lakehouse_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.where("vec_id < 4")
    kw = dict(dim=64, m=8, n_codes=16, k=5)
    full = {
        (r.query_id, r.neighbor_id, r.approx_l2sq, r.rank)
        for r in pq_topk(emb, probes, **kw).collect()
    }
    composed = {
        (r.query_id, r.neighbor_id, r.approx_l2sq, r.rank)
        for r in ivfpq_topk(emb, probes, n_cells=8, n_probe_cells=8, **kw).collect()
    }
    assert composed == full and len(full) == 20
    # pruned probe: every scored pair keeps the identical ADC distance
    # (IVF narrows the candidate set; it never re-scores) — compare
    # against the UNranked exhaustive table, since pruning can promote
    # pairs outside the exhaustive top-k
    all_dist = {
        (r.query_id, r.neighbor_id): r.approx_l2sq
        for r in pq_topk(emb, probes, dim=64, m=8, n_codes=16, k=10**6).collect()
    }
    pruned = ivfpq_topk(emb, probes, n_cells=8, n_probe_cells=2, **kw).collect()
    assert 0 < len(pruned) <= len(full)
    for r in pruned:
        assert all_dist[(r.query_id, r.neighbor_id)] == r.approx_l2sq


def test_incremental_lsh_equals_full_run_filtered(spark):
    """The incremental contract: pairs(increment) == full lsh_verified run
    filtered to new-involving pairs — same jaccard values, no base-base
    pair ever emitted, link_type consistent with the flags. The corpus
    slice must actually exercise both link types."""
    from weather_bigquery_lakehouse_spark.operators import dedup as dd
    from weather_bigquery_lakehouse_spark.operators.curation import md5_bucket

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = md5_bucket("doc_id", salt="incr|") >= 50  # 50/50 for coverage
    new_ids = {
        r.doc_id for r in docs.select("doc_id").where(pred).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.lsh_verified_pairs(docs, threshold=0.5).collect()
    }
    inc = {
        (r.doc_a, r.doc_b): r
        for r in dd.incremental_lsh_pairs(docs, pred, threshold=0.5).collect()
    }
    want = {
        p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids
    }
    assert {p: r.jaccard for p, r in inc.items()} == want and len(want) > 0
    kinds = set()
    for (a, b), r in inc.items():
        both = (a in new_ids) + (b in new_ids)
        assert both >= 1  # base-base never emitted
        assert r.link_type == ("new_new" if both == 2 else "new_base")
        kinds.add(r.link_type)
    assert kinds == {"new_new", "new_base"}


def test_embedding_pair_clusters_memo_shares_work(spark):
    """The audit family's shared front end: same cache_key → the SAME
    checkpointed frames come back (the CC iteration runs once per sweep);
    no key → fresh frames; results identical either way."""
    from weather_bigquery_lakehouse_spark.operators import artifacts
    from weather_bigquery_lakehouse_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0]), (3, [0.01, 1.0])],
        "vec_id long, embedding array<float>",
    )
    planes = [[0.3, 0.7]]
    artifacts.forget(artifacts.held())
    p1, l1 = sim.embedding_pair_clusters(emb, planes, 0.3, cache_key="k")
    p2, l2 = sim.embedding_pair_clusters(emb, planes, 0.3, cache_key="k")
    assert p1 is p2 and l1 is l2  # memo hit: shared WORK, not a rebuild
    p3, l3 = sim.embedding_pair_clusters(emb, planes, 0.3)
    assert p3 is not p1 and l3 is not l1  # no key → no memo
    key_rows = {(r.node, r.comp) for r in l1.collect()}
    fresh_rows = {(r.node, r.comp) for r in l3.collect()}
    assert key_rows == fresh_rows and len(key_rows) == 4
    artifacts.forget(artifacts.held())


def test_pq_incomplete_codebook_raises(spark):
    """Sparse / non-zero-based ids starve the id-prefix codebook — the
    operator must fail loudly, not return degraded or empty results."""
    import pytest as _pytest

    from weather_bigquery_lakehouse_spark.operators.similarity import pq_topk

    emb = spark.createDataFrame(
        [(100 + i, [float(i)] * 8) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="codebook incomplete.*0 of 4"):
        pq_topk(emb, emb.limit(1), dim=8, m=4, n_codes=4)


def test_codebook_validated_for_other_m_raises(spark):
    """A codebook checked for m=4 has sub_id groups 0..3 only: a scorer
    with m=8 must re-validate it and raise, not score 4 of 8 subspaces."""
    import pytest as _pytest

    from weather_bigquery_lakehouse_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    cb4 = sim.validate_codebook(
        sim.pq_codebook_standin(emb, dim=8, m=4, n_codes=4), m=4
    )
    assert sim.pq_topk(emb, emb.limit(1), dim=8, m=4, n_codes=4, codebook=cb4).count()
    with _pytest.raises(ValueError, match=r"codebook incomplete: sub_id group\(s\) \[4, 5, 6, 7\]"):
        sim.pq_topk(emb, emb.limit(1), dim=8, m=8, n_codes=4, codebook=cb4)


def test_pq_distortion_encoded_for_other_m_raises(spark):
    """A supplied ``encoded`` frame must hold the scorer's m subspaces per
    vector: an m=4 encode scored with m=8, or an m=8 encode scored with
    m=4, raises when evaluated; the check starts no job of its own, and a
    frame without the encode's columns raises at once."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    cells = emb.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", F.lit(0).alias("cell_id")
    )

    def encode(m):
        cb = sim.pq_codebook_standin(emb, dim=8, m=m, n_codes=4)
        return sim.pq_encode_cells(cells, dim=8, m=m, codebook=cb)

    enc4, enc8 = encode(4), encode(8)
    sc = spark.sparkContext
    sc.setJobGroup("pq_distortion_guard", "pq_distortion_guard")
    try:
        checked = sim.pq_distortion(emb, dim=8, m=4, encoded=enc4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("pq_distortion_guard")
    assert checked.collect() == sim.pq_distortion(emb, dim=8, m=4, n_codes=4).collect()
    for m, enc in [(8, enc4), (4, enc8)]:
        with pytest.raises(Exception, match=f"exactly {m} rows with sub_id in"):
            sim.pq_distortion(emb, dim=8, m=m, encoded=enc).collect()
    with pytest.raises(ValueError, match=r"lacks \['__d'\]"):
        sim.pq_distortion(emb, dim=8, m=4, encoded=enc4.drop("__d"))


def test_contrastive_pairs_hardest_positive_and_negative(spark):
    from weather_bigquery_lakehouse_spark.operators import similarity as sim

    # one plane (sign of y): every vector below has y >= 0 → one bucket.
    # {a=1, b=2, c=3} form a dup cluster (all pairwise cosines >= 0.3);
    # d=4 shares the bucket but scores < 0.3 against all of them.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.5, 0.5]),
        (4, [-0.9, 0.3]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.anchor: r
        for r in sim.contrastive_pairs(emb, planes=[[0.0, 1.0]]).collect()
    }
    # d is unclustered → never an anchor; a, b, c each get pairs
    assert set(out) == {1, 2, 3}
    # hardest positive = lowest-cosine direct partner:
    # cos(1,3)≈.707 < cos(1,2)≈.994 → anchor 1 picks 3
    # cos(2,3)≈.781 < cos(1,2)      → anchor 2 picks 3
    # cos(1,3)≈.707 < cos(2,3)      → anchor 3 picks 1
    assert out[1].pos_id == 3 and out[2].pos_id == 3 and out[3].pos_id == 1
    # the only non-cluster-mate in the bucket is d — everyone's negative
    assert all(out[i].neg_id == 4 for i in (1, 2, 3))
    # mined negatives always score below the dup threshold by construction
    assert all(out[i].neg_sim < 0.3 for i in (1, 2, 3))
    assert all(out[i].pos_sim >= 0.3 for i in (1, 2, 3))


def test_corpus_datasheet_counts_on_hand_corpus(spark):
    from weather_bigquery_lakehouse_spark.operators import text as tx

    rows = [
        (1, "the and is of in a to was", "en"),   # en stopwords, 8 tokens
        (2, "the and is of in a to was", "en"),   # exact duplicate of 1
        (3, "le la et les des un une du", "fr"),  # fr stopwords
        (4, None, "en"),                          # null text: excluded
        (5, "zzz qqq xxx", "xx"),                 # no stopword hits: und
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    r = tx.corpus_datasheet(docs).collect()[0]
    assert r.n_docs == 4
    assert r.n_exact_dup_docs == 1
    assert r.exact_dup_frac == 0.25
    assert r.n_tokens_total == 8 + 8 + 8 + 3
    assert (r.n_en, r.n_fr, r.n_und) == (2, 1, 1)
    assert r.n_es == 0 and r.n_de == 0
    assert r.mean_doc_tokens == round(27 / 4, 4)


def test_ann_recall_report_matches_python_set_math(spark, sf_dir):
    from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES
    from weather_bigquery_lakehouse_spark.plans.extensions import (
        _N_MULTIPROBE, _N_PROBES, _PLANES, _TOP_K, _N_CELLS,
        _N_IVF_PROBE_CELLS, _PQ_DIM, _PQ_M, _PQ_CODES,
    )
    from weather_bigquery_lakehouse_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    report = {
        r.method: r
        for r in ALL_QUERIES["ann_recall_report"].fn(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < _N_PROBES)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, probes, k=_TOP_K).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_bucketed_topk(
            emb, probes, _PLANES, k=_TOP_K, n_probes=_N_MULTIPROBE
        ).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(
            emb, probes, n_cells=_N_CELLS, k=_TOP_K,
            n_probe_cells=_N_IVF_PROBE_CELLS,
        ).collect()
    }
    # the PQ family is scored against the METRIC-MATCHED L2 ground truth
    exact_l2 = {
        (r.query_id, r.neighbor_id)
        for r in sim.l2_topk(emb, probes, k=_TOP_K).collect()
    }
    pq_kw = dict(dim=_PQ_DIM, m=_PQ_M, n_codes=_PQ_CODES, k=_TOP_K)
    pq = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_topk(emb, probes, **pq_kw).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivfpq_topk(
            emb, probes, n_cells=_N_CELLS,
            n_probe_cells=_N_IVF_PROBE_CELLS, **pq_kw
        ).collect()
    }
    # trained-quantizer rows (round 8): same configurations, k-means
    # codebook/centroids from operators/kmeans.py
    from weather_bigquery_lakehouse_spark.operators import kmeans as km
    from weather_bigquery_lakehouse_spark.plans.extensions import (
        _KM_ITER, _KM_SAMPLE_N,
    )

    cb_t = km.kmeans_pq_codebook(
        emb, dim=_PQ_DIM, m=_PQ_M, n_codes=_PQ_CODES, n_iter=_KM_ITER
    )
    cent_t = km.kmeans_centroids(
        emb, n_cells=_N_CELLS, n_iter=_KM_ITER, sample_n=_KM_SAMPLE_N
    )
    ivf_t = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(
            emb, probes, n_cells=_N_CELLS, k=_TOP_K,
            n_probe_cells=_N_IVF_PROBE_CELLS, centroids=cent_t,
        ).collect()
    }
    pq_t = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_topk(emb, probes, codebook=cb_t, **pq_kw).collect()
    }
    ivfpq_t = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivfpq_topk(
            emb, probes, n_cells=_N_CELLS,
            n_probe_cells=_N_IVF_PROBE_CELLS, codebook=cb_t, **pq_kw
        ).collect()
    }
    denom = _TOP_K * _N_PROBES
    assert len(report) == 7
    assert report["lsh_multiprobe"].recall_at_k == round(len(lsh & exact) / denom, 6)
    assert report["ivf_multiprobe"].recall_at_k == round(len(ivf & exact) / denom, 6)
    assert report["pq_adc"].recall_at_k == round(len(pq & exact_l2) / denom, 6)
    assert report["ivfpq"].recall_at_k == round(len(ivfpq & exact_l2) / denom, 6)
    assert report["ivf_trained"].recall_at_k == round(len(ivf_t & exact) / denom, 6)
    assert report["pq_adc_trained"].recall_at_k == round(
        len(pq_t & exact_l2) / denom, 6
    )
    assert report["ivfpq_trained_cb"].recall_at_k == round(
        len(ivfpq_t & exact_l2) / denom, 6
    )
    assert all(0.0 < r.recall_at_k <= 1.0 for r in report.values())
    # distortion column: populated for the ADC family only, equal within
    # a codebook, and strictly better for the trained codebook
    assert report["lsh_multiprobe"].mean_distortion_micro is None
    assert report["ivf_multiprobe"].mean_distortion_micro is None
    assert report["ivf_trained"].mean_distortion_micro is None
    d_s = report["pq_adc"].mean_distortion_micro
    d_t = report["pq_adc_trained"].mean_distortion_micro
    assert d_s == report["ivfpq"].mean_distortion_micro
    assert d_t == report["ivfpq_trained_cb"].mean_distortion_micro
    assert 0 < d_t < d_s


def test_skew_key_report_math_and_takeordered_plan(spark):
    import contextlib, io

    from weather_bigquery_lakehouse_spark.operators.skew import skew_key_report

    # key 1 holds 60 of 100 rows over 5 distinct keys: share 600000 ppm,
    # hot factor 3.0x (3000 milli)
    rows = [(1,)] * 60 + [(2,)] * 10 + [(3,)] * 10 + [(4,)] * 10 + [(5,)] * 10
    df = spark.createDataFrame(rows, "user_id bigint")
    out = {r.key: r for r in skew_key_report(df, "user_id", top_n=3).collect()}
    assert len(out) == 3 and out[1].rank == 1
    assert out[1].share_ppm == 600_000 and out[1].hot_factor_milli == 3000
    assert out[2].share_ppm == 100_000 and out[2].hot_factor_milli == 500
    # ties broken by key asc: keys 2,3 fill ranks 2,3
    assert out[2].rank == 2 and out[3].rank == 3
    # top-n must compile to TakeOrderedAndProject — never a global sort or
    # data-proportional single-partition window over the key space
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        skew_key_report(df, "user_id", top_n=3).explain("simple")
    assert "TakeOrderedAndProject" in buf.getvalue()
    # rank comes from the triangular broadcast self-join, NOT an
    # unpartitioned window — zero WindowExec (and zero warnings) in the plan
    assert "Window" not in buf.getvalue()


def test_incremental_lsh_precomputed_signatures_equal_recompute(spark, tmp_path):
    """The persisted-signature substitution the incremental docstring
    promises: landing minhash_signatures(base) via write_table at base
    ingest and feeding the round-tripped frame back through
    base_signatures= yields EXACTLY the pairs of the recompute run —
    same jaccard, same link types (both paths share
    _signatures_from_shingles, so the recipe cannot diverge)."""
    from weather_bigquery_lakehouse_spark.io.writers import write_table
    from weather_bigquery_lakehouse_spark.operators import dedup as dd
    from weather_bigquery_lakehouse_spark.operators.curation import md5_bucket

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = md5_bucket("doc_id", salt="incr|") >= 50
    sig_path = str(tmp_path / "base_signatures")
    write_table(dd.minhash_signatures(docs.where(~pred)), sig_path)
    base_sig = spark.read.parquet(sig_path)

    recompute = {
        (r.doc_a, r.doc_b): (r.jaccard, r.link_type)
        for r in dd.incremental_lsh_pairs(docs, pred, threshold=0.5).collect()
    }
    persisted = {
        (r.doc_a, r.doc_b): (r.jaccard, r.link_type)
        for r in dd.incremental_lsh_pairs(
            docs, pred, threshold=0.5, base_signatures=base_sig
        ).collect()
    }
    assert persisted == recompute and len(recompute) > 0


def test_incremental_lsh_base_is_never_reshingled(spark):
    """Behavioral pin that base SIGNATURES come from the persisted frame,
    not from base text: after persisting signatures, mutate an unrelated
    base doc's text into a verbatim copy of a new doc. A run that
    re-shingled the base would band-collide the mutated doc and emit the
    pair; the persisted-signature run must not (its index still holds the
    original, unrelated signature). The genuine new/base duplicate pair
    must still come through — the verify stage DOES read base text, but
    only for candidate-involved docs."""
    from pyspark.sql import functions as F

    from weather_bigquery_lakehouse_spark.operators import dedup as dd

    rows = [
        ("b1", "the quick brown fox jumps over the lazy dog today", 0),
        ("b2", "columnar parquet tables compress better with sorted row groups", 0),
        ("n1", "columnar parquet tables compress better with sorted row groups", 1),
        ("n2", "streaming watermark bounds the state store partition growth", 1),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, is_new int")
    base_sig = dd.minhash_signatures(
        docs.where("is_new = 0")
    ).localCheckpoint(eager=True)  # freeze pre-mutation signatures
    mutated = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == "b1",
            F.lit("streaming watermark bounds the state store partition growth"),
        ).otherwise(F.col("text")),
    )
    pairs = {
        (r.doc_a, r.doc_b): r.link_type
        for r in dd.incremental_lsh_pairs(
            mutated,
            F.col("is_new") == 1,
            threshold=0.5,
            base_signatures=base_sig,
        ).collect()
    }
    assert ("b2", "n1") in pairs and pairs[("b2", "n1")] == "new_base"
    assert ("b1", "n2") not in pairs  # re-shingling base would emit this


def test_ivf_cell_occupancy_partitions_the_corpus(spark, sf_dir):
    """Every vector lands in exactly one cell under each quantizer, so the
    per-quantizer occupancy counts must sum to the corpus size and the
    ppm shares to ~1e6 (floor-division remainder < n_cells)."""
    from weather_bigquery_lakehouse_spark.plans import RETIRED

    rows = RETIRED["ivf_cell_occupancy"].fn(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    counts: dict[str, int] = {}
    shares: dict[str, int] = {}
    for r in rows:
        counts[r.quantizer] = counts.get(r.quantizer, 0) + r.n_vectors
        shares[r.quantizer] = shares.get(r.quantizer, 0) + r.share_ppm
    assert set(counts) == {"first_n", "kmeans_sampled"}
    assert all(v == n for v in counts.values())
    from weather_bigquery_lakehouse_spark.plans.extensions import _N_CELLS

    assert all(1_000_000 - _N_CELLS < s <= 1_000_000 for s in shares.values())


def test_supplied_quantizer_frames_fail_loudly_when_incomplete(spark):
    """codebook=/centroids= bypass the stand-in path's completeness
    guard, and an incomplete frame corrupts SILENTLY (a missing sub_id
    inner-joins that subspace away, so ADC sums over m-1 subspaces; an
    empty centroid frame empties the index) — both must raise instead."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 3)
    bad_cb = spark.createDataFrame(
        [(s, c, [0.0] * 8) for s in range(7) for c in range(4)],
        "sub_id int, code_id int, __cv array<double>",
    )
    with pytest.raises(ValueError, match="sub_id group"):
        sim.pq_topk(emb, probes, dim=64, m=8, n_codes=4, codebook=bad_cb)
    with pytest.raises(ValueError, match="sub_id group"):
        sim.ivfpq_topk(emb, probes, dim=64, m=8, n_codes=4, codebook=bad_cb)
    with pytest.raises(ValueError, match="sub_id group"):
        sim.pq_distortion(emb, dim=64, m=8, n_codes=4, codebook=bad_cb)
    empty_cent = spark.createDataFrame([], "cell_id int, centroid array<double>")
    with pytest.raises(ValueError, match="centroids frame is empty"):
        sim.ivf_topk(emb, probes, centroids=empty_cent)
    with pytest.raises(ValueError, match="centroids frame is empty"):
        sim.ivfpq_topk(emb, probes, dim=64, centroids=empty_cent)


def test_gap_fill_locf_semantics(spark):
    """Gap fill: per-entity grid spans its OWN [first, last] bucket,
    empty buckets carry the last observed value (is_filled=1), and the
    in-bucket winner is the exact (event time, id) latest."""
    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    rows = [
        # user 1: 10:00 bucket has TWO events (10:05 wins on time);
        # 11:00 empty; 12:30 observed → grid 10:00..12:00
        (1, 1, "2024-01-01 10:01:00", 10.0),
        (2, 1, "2024-01-01 10:05:00", 20.0),
        (3, 1, "2024-01-01 12:30:00", 30.0),
        # user 2: single event → single-bucket grid, nothing filled
        (4, 2, "2024-01-01 03:59:00", 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["user_id"], str(r["bucket_ts"])): (r["value"], r["is_filled"])
        for r in tp.gap_fill_locf(ev).collect()
    }
    assert got == {
        (1, "2024-01-01 10:00:00"): (20.0, 0),   # in-bucket latest wins
        (1, "2024-01-01 11:00:00"): (20.0, 1),   # carried
        (1, "2024-01-01 12:00:00"): (30.0, 0),
        (2, "2024-01-01 03:00:00"): (7.0, 0),
    }


def test_gap_fill_locf_tie_break_on_event_id(spark):
    """Two events at the SAME timestamp in one bucket: the higher
    event_id wins — deterministic under any partitioning."""
    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    ev = spark.createDataFrame(
        [
            (1, 9, "2024-01-01 10:00:00", 1.0),
            (2, 9, "2024-01-01 10:00:00", 2.0),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    a = tp.gap_fill_locf(ev.repartition(8)).collect()
    b = tp.gap_fill_locf(ev.coalesce(1)).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a[0]["value"] == 2.0 and a[0]["is_filled"] == 0


def test_ohlc_bars_semantics_and_tie_break(spark):
    """OHLC per (key, bucket): open/close from the composite (time, id)
    order — including SAME-timestamp ties at the bucket edges — and
    identical results under any partitioning."""
    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    rows = [
        # bucket 10:00 for type 'a': open ties at 10:00 (ids 1,2 → id 1
        # opens), close ties at 10:59 (ids 3,4 → id 4 closes)
        (1, "a", "2024-01-01 10:00:00", 5.0),
        (2, "a", "2024-01-01 10:00:00", 6.0),
        (3, "a", "2024-01-01 10:59:00", 7.0),
        (4, "a", "2024-01-01 10:59:00", 8.0),
        (5, "a", "2024-01-01 10:30:00", 1.0),   # the low
        # a second bucket and a second key
        (6, "a", "2024-01-01 11:05:00", 9.0),
        (7, "b", "2024-01-01 10:10:00", 2.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["event_type"], str(r["bucket_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["volume"]
        )
        for r in tp.ohlc_bars(ev).collect()
    }
    assert got == {
        ("a", "2024-01-01 10:00:00"): (5.0, 8.0, 1.0, 8.0, 5),
        ("a", "2024-01-01 11:00:00"): (9.0, 9.0, 9.0, 9.0, 1),
        ("b", "2024-01-01 10:00:00"): (2.0, 2.0, 2.0, 2.0, 1),
    }
    shuffled = {
        (r["event_type"], str(r["bucket_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["volume"]
        )
        for r in tp.ohlc_bars(ev.repartition(7)).collect()
    }
    assert shuffled == got


def test_ohlc_bars_requires_explicit_tie_break(spark):
    """No tie-break column → raise, never silently fall back to a
    partition-order-dependent id (the determinism contract)."""
    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    ev = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00", 1.0)], "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="tie-break"):
        tp.ohlc_bars(ev)
    # an explicit column name satisfies the contract
    ev2 = ev.withColumn("my_id", F.lit(7).cast("bigint"))
    assert tp.ohlc_bars(ev2, id_col="my_id").count() == 1


def test_temporal_negative_epoch_floor_buckets(spark):
    """Pre-1970 timestamps bucket with FLOOR semantics (pmod), not
    truncate-toward-zero: an event 1 µs before the epoch belongs to the
    bucket STARTING one bucket-width earlier, in gap fill, OHLC, and
    cohort retention alike."""
    import datetime

    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    before = datetime.datetime(1969, 12, 31, 23, 30)   # -1800 s
    after = datetime.datetime(1970, 1, 1, 0, 30)
    ev = spark.createDataFrame(
        [(1, "a", before, 1.0), (2, "a", after, 2.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    bars = {
        str(r["bucket_ts"]): r["volume"]
        for r in tp.ohlc_bars(ev, bucket_seconds=3600).collect()
    }
    assert bars == {"1969-12-31 23:00:00": 1, "1970-01-01 00:00:00": 1}

    filled = {
        str(r["bucket_ts"]): r["is_filled"]
        for r in tp.gap_fill_locf(
            ev.withColumn("user_id", F.lit(9).cast("bigint")),
            bucket_seconds=3600,
        ).collect()
    }
    assert filled == {"1969-12-31 23:00:00": 0, "1970-01-01 00:00:00": 0}

    cohort = {
        (r["cohort_bucket"], r["week_offset"])
        for r in tp.cohort_retention(
            ev.withColumn("user_id", F.col("event_id")), bucket_seconds=3600
        ).collect()
    }
    # floor: -1800 µs-bucket index is -1, not 0
    assert cohort == {(-1, 0), (0, 0)}


def test_resize_media_plan_semantics(spark):
    """Resize plan: aspect preserved in integer math, no-op below the
    box, null dims propagate, and the mapInPandas stage keeps row count."""
    import pandas as pd

    rows = [
        (1, 200, 100),   # downscale: longest 200 → 96: (96, 48)
        (2, 50, 80),     # fits: unchanged, scale 1e6
        (3, None, 100),  # null propagates
        (4, 96, 96),     # exactly at the box: unchanged
    ]
    df = spark.createDataFrame(rows, "media_id long, width int, height int")
    got = {
        r["media_id"]: (
            r["out_width"], r["out_height"], r["scale_ppm"], r["is_downscaled"]
        )
        for r in mm.resize_media(df, max_side=96).collect()
    }
    assert got[1] == (96, 48, 480_000, 1)
    assert got[2] == (50, 80, 1_000_000, 0)
    assert got[3] == (None, None, None, None)
    assert got[4] == (96, 96, 1_000_000, 0)
    assert len(got) == 4


def test_cohort_retention_semantics(spark):
    """Cohort matrix on a hand fixture: users cohorted by first-activity
    week, retention counted per offset, ppm exact, multi-activity weeks
    deduped per user."""
    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    W = 7 * 86_400  # bucket seconds
    def ts(week, d=0):
        import datetime
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=week * W + d)

    rows = [
        # cohort week 100: users 1,2,3. u1 active w100,w101,w102; u2 w100,w102
        # (twice in w102 — must dedupe); u3 only w100.
        (1, ts(100)), (1, ts(101)), (1, ts(102)),
        (2, ts(100)), (2, ts(102)), (2, ts(102, 60)),
        (3, ts(100)),
        # cohort week 101: user 4, active w101 only
        (4, ts(101)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_bucket"], r["week_offset"]): (
            r["n_active"], r["cohort_size"], r["retention_ppm"]
        )
        for r in tp.cohort_retention(ev).collect()
    }
    assert got == {
        (100, 0): (3, 3, 1_000_000),
        (100, 1): (1, 3, 333_333),
        (100, 2): (2, 3, 666_666),
        (101, 0): (1, 1, 1_000_000),
    }


def test_funnel_steps_ordering_semantics(spark):
    """Funnel: step-i requires an event strictly AFTER the entity's
    step-(i-1) time; out-of-order completions don't count; earliest
    completion dominates; ppm exact."""
    import datetime

    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    def ts(m):
        return datetime.datetime(2024, 1, 1, 12, m)

    rows = [
        # u1 completes in order: view@0, click@5, purchase@10
        (1, "view", ts(0)), (1, "click", ts(5)), (1, "purchase", ts(10)),
        # u2: click BEFORE view → drops at step 2
        (2, "click", ts(0)), (2, "view", ts(5)),
        # u3: view + click, no purchase → drops at step 3
        (3, "view", ts(0)), (3, "click", ts(1)),
        # u4: purchase SIMULTANEOUS with click → strict > drops it
        (4, "view", ts(0)), (4, "click", ts(2)), (4, "purchase", ts(2)),
        # u5: earliest view is AFTER its only click, but a LATER click
        # follows → still converts step 2 via the later click
        (5, "click", ts(0)), (5, "view", ts(1)), (5, "click", ts(3)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r["step"]: (r["n_entities"], r["conversion_ppm"], r["step_ppm"])
        for r in tp.funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    assert got["view"] == (5, 1_000_000, 1_000_000)       # u1..u5 all view
    assert got["click"] == (4, 800_000, 800_000)          # u2 drops
    assert got["purchase"] == (1, 200_000, 250_000)       # only u1


def test_parse_image_header_real_formats():
    """REAL header-level dimension decode — handcrafted minimal byte
    fixtures straight from the public format specs, no codec library."""
    import struct

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        parse_image_header,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    assert parse_image_header(png) == ("png", 640, 480)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert parse_image_header(gif) == ("gif", 320, 200)

    bmp = (
        b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
        + struct.pack("<ii", 800, -600) + b"\x00" * 8
    )
    assert parse_image_header(bmp) == ("bmp", 800, 600)  # top-down abs()

    ppm = b"P6\n# a comment\n1024 768\n255\n" + b"\x00" * 9
    assert parse_image_header(ppm) == ("ppm", 1024, 768)

    # JPEG: SOI, APP0 segment, DQT segment, then SOF0 with the dims
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00" + b"\x00" * 9)
        + seg(0xDB, b"\x00" * 65)
        + seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
    )
    assert parse_image_header(jpg) == ("jpeg", 640, 480)

    # 0xFF fill bytes are LEGAL padding before any marker (ITU T.81
    # §B.1.1.2) — the walk must skip them, not parse a fill byte as a
    # standalone marker followed by a bogus segment length
    jpg_padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes before APP0
        + seg(0xE0, b"JFIF\x00" + b"\x00" * 9)
        + b"\xff"  # single fill byte before SOF0
        + seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
    )
    assert parse_image_header(jpg_padded) == ("jpeg", 640, 480)
    # trailing fill bytes with no marker: clean None, no crash
    assert parse_image_header(b"\xff\xd8" + b"\xff" * 8) is None

    # unrecognized bytes → None; fake=False decode raises for them
    assert parse_image_header(b"plain text payload") is None
    assert parse_image_header(b"") is None
    import pytest

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_image_stub,
    )

    assert decode_image_stub(png) == (640, 480)
    with pytest.raises(NotImplementedError, match="header-level decode"):
        decode_image_stub(b"not an image")


def test_decode_media_real_headers_end_to_end(spark):
    """The mapInPandas decode stage with fake=False over REAL container
    bytes: dimensions come from the headers, NULL payloads propagate."""
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 32, 16) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF87a" + struct.pack("<HH", 7, 9) + b"\x00\x00\x00"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, None)],
        "doc_id long, payload binary",
    )
    media = mm.attach_media(df, "payload", "image/png", id_col="doc_id")
    got = {
        r["media_id"]: (r["width"], r["height"])
        for r in mm.decode_media(media, fake=False).collect()
    }
    assert got == {1: (32, 16), 2: (7, 9), 3: (None, None)}


def test_resize_pixels_media_real_ppm_kernel(spark):
    """The REAL pixel path end-to-end: a 4x2 P6 image with known pixels
    resamples to the exact nearest-neighbor result via integer index
    maps, the output payload re-decodes as valid P6, non-P6 payloads
    quarantine to NULL, and already-fitting images pass through."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_ppm_pixels,
        encode_ppm,
    )

    # 2 rows x 4 cols, each pixel (10*row, col, 0)
    arr = np.array(
        [[[0, 0, 0], [0, 1, 0], [0, 2, 0], [0, 3, 0]],
         [[10, 0, 0], [10, 1, 0], [10, 2, 0], [10, 3, 0]]],
        dtype=np.uint8,
    )
    ppm = encode_ppm(arr)
    assert (decode_ppm_pixels(ppm) == arr).all()

    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(b"not an image")), (3, None)],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in mm.resize_pixels_media(df, max_side=2).collect()}
    r1 = out[1]
    assert (r1["width"], r1["height"], r1["out_width"], r1["out_height"]) == (
        4, 2, 2, 1
    )
    resized = decode_ppm_pixels(bytes(r1["out_payload"]))
    # integer maps: rows (0*2)//1=0; cols (0*4)//2=0, (1*4)//2=2
    assert (resized == arr[[0]][:, [0, 2]]).all()
    assert out[2]["out_payload"] is None and out[2]["width"] is None
    assert out[3]["out_payload"] is None

    # fits-the-box passthrough: payload survives byte-identical pixels
    small = {r["media_id"]: r for r in mm.resize_pixels_media(df, max_side=8).collect()}
    assert (decode_ppm_pixels(bytes(small[1]["out_payload"])) == arr).all()

    # keep_payload=True: the input bytes ride through (quarantined rows
    # included), so a before/after consumer never re-references the
    # upstream from a second plan branch
    kept = {
        r["media_id"]: r
        for r in mm.resize_pixels_media(df, max_side=2, keep_payload=True).collect()
    }
    assert bytes(kept[1]["payload"]) == ppm
    assert bytes(kept[2]["payload"]) == b"not an image"
    assert kept[3]["payload"] is None and kept[3]["out_payload"] is None

    # pixels_rows_sides: ONE tagged decode pass over both payload columns;
    # undecodable sides emit no rows
    sides = mm.pixels_rows_sides(
        spark.createDataFrame(
            [(1, bytearray(ppm), bytearray(ppm)), (2, None, bytearray(b"junk"))],
            "media_id long, payload binary, out_payload binary",
        ),
        {"in": "payload", "out": "out_payload"},
    ).collect()
    got = {(r.media_id, r.side) for r in sides}
    assert got == {(1, "in"), (1, "out")}
    in_vals = sorted(
        (r.r, r.c, r.ch, r.v) for r in sides if r.side == "in"
    )
    assert len(in_vals) == 4 * 2 * 3
    assert in_vals == sorted(
        (rr, cc, ch, int(arr[rr, cc, ch]))
        for rr in range(2)
        for cc in range(4)
        for ch in range(3)
    )


def _wav_bytes(samples, rate=8000, bits=16, channels=1):
    """Handcrafted RIFF/WAVE PCM bytes from a sample list — the public
    container layout, no audio library."""
    import struct

    import numpy as np

    if bits == 16:
        data = np.asarray(samples, dtype="<i2").tobytes()
    else:
        data = bytes((s // 256) + 128 for s in samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_parse_audio_header_and_pcm_decode():
    """REAL WAV metadata + sample decode from handcrafted bytes."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_wav_pcm,
        parse_audio_header,
    )

    wav = _wav_bytes([0, 100, -100, 32767, -32768])
    assert parse_audio_header(wav) == ("wav", 1, 8000, 16, 5)
    pcm = decode_wav_pcm(wav)
    assert pcm.shape == (5, 1)
    assert list(pcm[:, 0]) == [0, 100, -100, 32767, -32768]
    # non-PCM format code and non-audio bytes are rejected, not mis-read
    assert parse_audio_header(b"RIFFxxxxWAVE") is None
    assert parse_audio_header(b"not audio") is None
    bad = bytearray(wav)
    bad[20] = 3  # fmt code 3 = IEEE float, needs a decoder
    assert parse_audio_header(bytes(bad)) is None


def test_audio_features_media_windows(spark):
    """The windowed feature stage: exact integer peak/sum_sq per window,
    correct window fan-out, and non-WAV payloads quarantine to 0 rows."""
    wav = _wav_bytes([3, -4, 0, 5])  # two windows of 2 at window_frames=2
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"junk")), (3, None)],
        "media_id long, payload binary",
    )
    rows = {
        (r["media_id"], r["window_idx"]): (r["n_frames"], r["peak"], r["sum_sq"])
        for r in mm.audio_features_media(df, window_frames=2).collect()
    }
    assert rows == {
        (1, 0): (2, 4, 25),   # 3² + (−4)² = 25, peak 4
        (1, 1): (2, 5, 25),   # 0² + 5² = 25, peak 5
    }


def test_parse_video_header_mp4_and_avi():
    """REAL video metadata decode from handcrafted container bytes: MP4
    mvhd v0 and v1 (incl. largesize boxes), AVI avih, and rejection of
    malformed/unknown bytes."""
    import struct

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        parse_video_header,
    )

    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    # mvhd v0: version/flags(4) creation(4) modification(4) timescale(4)
    # duration(4) — timescale 1000, duration 2500 → 2500 ms
    mvhd0 = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + struct.pack(">I", 1000) + struct.pack(">I", 2500) + b"\x00" * 4,
    )
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", mvhd0)
    assert parse_video_header(mp4) == ("mp4", 2500, None, None, None)

    # mvhd v1: u64 times, timescale 90000, duration 90000*3+45000 → 3500 ms
    mvhd1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + b"\x00" * 16
        + struct.pack(">I", 90000) + struct.pack(">Q", 315000) + b"\x00" * 4,
    )
    mp4v1 = box(b"ftyp", b"isom") + box(b"moov", mvhd1)
    assert parse_video_header(mp4v1) == ("mp4", 3500, None, None, None)

    # largesize (size==1) ftyp box before moov must be stepped over
    big_ftyp = (
        struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 16 + 4) + b"isom"
    )
    assert parse_video_header(big_ftyp + box(b"moov", mvhd0))[1] == 2500

    # AVI: RIFF/'AVI ' → LIST hdrl → avih (25 fps, 50 frames, 320x240)
    avih = (
        b"avih" + struct.pack("<I", 56)
        + struct.pack("<IIIII", 40000, 0, 0, 0, 50)
        + struct.pack("<III", 0, 0, 0)
        + struct.pack("<II", 320, 240) + b"\x00" * 16
    )
    avi = b"RIFF" + struct.pack("<I", 4 + 12 + len(avih)) + b"AVI " \
        + b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    assert parse_video_header(avi) == ("avi", 2000, 320, 240, 50)

    # zero timescale, unknown bytes → rejected
    bad = box(b"ftyp", b"isom") + box(
        b"moov",
        box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8 + b"\x00" * 4
            + struct.pack(">I", 2500) + b"\x00" * 4),
    )
    assert parse_video_header(bad) is None
    assert parse_video_header(b"not a video") is None


def test_encode_mp4_avi_roundtrip_all_parser_paths():
    """encode_mp4 / encode_avi are the re-decodable inverses of
    parse_video_header across all four of its dispatch paths — mvhd v0,
    mvhd v1 (duration above 2^32, so a u32 misread fails), size-1 +
    largesize moov, and the avih LIST walk."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        encode_avi,
        encode_mp4,
        parse_video_header,
    )

    assert parse_video_header(encode_mp4(90000, 123456)) == (
        "mp4", 123456 * 1000 // 90000, None, None, None,
    )
    big = 2**40 + 7  # only representable in mvhd v1's u64 duration
    assert parse_video_header(encode_mp4(1000, big, version=1)) == (
        "mp4", big, None, None, None,
    )
    assert parse_video_header(
        encode_mp4(48000, 96123, version=1, largesize=True)
    ) == ("mp4", 96123 * 1000 // 48000, None, None, None)
    assert parse_video_header(encode_avi(33366, 250, 1920, 1080)) == (
        "avi", 250 * 33366 // 1000, 1920, 1080, 250,
    )


def test_synth_media_payloads_builds_every_variant(spark):
    """One row per MEDIA_VARIANTS code through the mixed synth, probed
    back: each payload is REAL enough for its parser, and the garbage
    variant quarantines to kind='unknown'."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        probe_media,
        synth_media_payloads,
    )

    rows = [
        (0, 0, 400, 0, 0, 0),     # wav: 400 frames @8kHz
        (1, 1, 5, 3, 0, 0),       # ppm 5x3
        (2, 2, 4, 2, 0, 0),       # png 4x2
        (3, 3, 90000, 45000, 0, 0),   # mp4 v0
        (4, 4, 40000, 50, 320, 240),  # avi
        (5, 5, 0, 0, 0, 0),       # garbage
        (6, 6, 1000, 2**40, 0, 0),    # mp4 v1
        (7, 7, 1000, 7000, 0, 0),     # mp4 v1 + largesize
    ]
    df = spark.createDataFrame(
        rows, "media_id long, variant int, p1 long, p2 long, p3 long, p4 long"
    )
    got = {
        r["media_id"]: r
        for r in probe_media(synth_media_payloads(df)).collect()
    }
    assert (got[0]["kind"], got[0]["format"], got[0]["n_frames"]) == (
        "audio", "wav", 400,
    )
    assert (got[1]["kind"], got[1]["width"], got[1]["height"]) == ("image", 5, 3)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("png", 4, 2)
    assert (got[3]["format"], got[3]["duration_ms"]) == ("mp4", 500)
    assert (got[4]["format"], got[4]["duration_ms"], got[4]["n_frames"]) == (
        "avi", 2000, 50,
    )
    assert got[5]["kind"] == "unknown"
    assert got[6]["duration_ms"] == 2**40 * 1000 // 1000
    assert got[7]["duration_ms"] == 7000


def test_probe_media_sniffs_all_kinds(spark):
    """Content sniffing dispatches the three real header decoders and
    ignores the declared (untrusted) mime: a GIF labeled audio/wav still
    probes as an image; unknown bytes quarantine, NULL propagates."""
    import struct

    gif = b"GIF89a" + struct.pack("<HH", 11, 13) + b"\x00\x00\x00"
    wav = _wav_bytes([1, 2, 3, 4])  # 4 frames @ 8000 Hz → 0 ms floor
    mvhd = (
        struct.pack(">I", 8 + 20) + b"mvhd"
        + b"\x00\x00\x00\x00" + b"\x00" * 8
        + struct.pack(">I", 1000) + struct.pack(">I", 750)
    )
    mp4 = (
        struct.pack(">I", 12) + b"ftyp" + b"isom"
        + struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(gif)),
            (2, bytearray(wav)),
            (3, bytearray(mp4)),
            (4, bytearray(b"mystery bytes")),
            (5, None),
        ],
        "doc_id long, payload binary",
    )
    media = mm.attach_media(df, "payload", "audio/wav", id_col="doc_id")
    got = {
        r["media_id"]: (
            r["kind"], r["format"], r["width"], r["height"],
            r["duration_ms"], r["n_frames"],
        )
        for r in mm.probe_media(media).collect()
    }
    assert got == {
        1: ("image", "gif", 11, 13, None, None),
        2: ("audio", "wav", None, None, 0, 4),
        3: ("video", "mp4", None, None, 750, None),
        4: ("unknown", None, None, None, None, None),
        5: ("unknown", None, None, None, None, None),
    }


def _png_manual(w, h, bpp, filtered_rows, color_type=None):
    """Build a PNG from hand-chosen per-row (filter_byte, filtered_bytes)
    — independent of the module's encoder, so filter decoding is checked
    against the spec, not against our own writer."""
    import struct
    import zlib

    ct = color_type if color_type is not None else (2 if bpp == 3 else 6)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    raw = b"".join(bytes([f]) + bytes(data) for f, data in filtered_rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _ref_unfilter(w, h, bpp, filtered_rows):
    """Pure-Python spec un-filter (the reference the decoder is pinned
    against)."""
    prev = [0] * (w * bpp)
    out = []
    for f, data in filtered_rows:
        rec = [0] * (w * bpp)
        for j in range(w * bpp):
            x = data[j]
            a = rec[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x + a
            elif f == 2:
                v = x + b
            elif f == 3:
                v = x + (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = x + pred
            rec[j] = v % 256
        out.append(rec)
        prev = rec
    return out


def test_png_codec_roundtrip_and_all_filters():
    """encode_png ↔ decode_png_pixels round-trips RGB and RGBA exactly;
    hand-filtered PNGs using ALL FIVE spec filters decode to the
    independent reference un-filter; non-8-bit-truecolor variants are
    rejected rather than mis-read."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = [(r * 37 + c * 11 + ch * 5) % 256 for r in range(4) for c in range(5) for ch in range(3)]
    rgb = np.array(rng, dtype=np.uint8).reshape(4, 5, 3)
    assert (decode_png_pixels(encode_png(rgb)) == rgb).all()
    rgba = np.dstack([rgb, np.full((4, 5), 7, np.uint8)])
    assert (decode_png_pixels(encode_png(rgba)) == rgba).all()

    # one row per filter type, deterministic pseudo-random filtered bytes
    w, h, bpp = 4, 5, 3
    rows = [
        (f, [((f + 1) * 53 + j * 29) % 256 for j in range(w * bpp)])
        for f in range(5)
    ]
    got = decode_png_pixels(_png_manual(w, h, bpp, rows))
    ref = np.array(_ref_unfilter(w, h, bpp, rows), dtype=np.uint8).reshape(
        h, w, bpp
    )
    assert (got == ref).all()

    # rejections: palette color type and truncated IDAT
    assert decode_png_pixels(_png_manual(w, h, bpp, rows, color_type=3)) is None
    bad = bytearray(_png_manual(w, h, bpp, rows))
    assert decode_png_pixels(bytes(bad[:40])) is None


def test_encode_png_row_filters_roundtrip_and_stream_bytes():
    """encode_png(row_filters=...) actually EMITS the requested filter
    bytes (checked in the decompressed scanline stream, not just via the
    round-trip) and every filter choice round-trips exactly — the
    encoder half the image_png_resize_events oracle entry leans on."""
    import zlib

    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    vals = [(r * 31 + c * 17 + ch * 7) % 256 for r in range(10) for c in range(6) for ch in range(3)]
    arr = np.array(vals, dtype=np.uint8).reshape(10, 6, 3)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 2, 3, 1, 0]):
        payload = encode_png(arr, row_filters=filters)
        assert (decode_png_pixels(payload) == arr).all(), filters
        # pull the IDAT, decompress, read the per-row filter bytes
        idat_off = payload.index(b"IDAT") + 4
        (idat_len,) = __import__("struct").unpack(">I", payload[idat_off - 8 : idat_off - 4])
        raw = zlib.decompress(payload[idat_off : idat_off + idat_len])
        stride = 6 * 3
        got = [raw[y * (1 + stride)] for y in range(10)]
        assert got == [filters[y % len(filters)] for y in range(10)], filters
    # RGBA too (bpp=4 changes the left/upleft offsets)
    rgba = np.dstack([arr, np.full((10, 6), 9, np.uint8)])
    for filters in ([1], [3], [4], [2, 4, 1, 3, 0]):
        assert (decode_png_pixels(encode_png(rgba, row_filters=filters)) == rgba).all()

    # invalid filter lists must fail EAGERLY over the whole list with a
    # clear error — not ZeroDivisionError on empty, and not silently
    # passing when the image height never reaches the bad cycle position
    import pytest

    with pytest.raises(ValueError, match="row_filters"):
        encode_png(arr, row_filters=[])
    with pytest.raises(ValueError, match="row_filters"):
        encode_png(arr, row_filters=[7])
    one_row = arr[:1]
    with pytest.raises(ValueError, match="row_filters"):
        encode_png(one_row, row_filters=[0, 9])  # position 1 never reached


def test_resize_pixels_media_png_end_to_end(spark):
    """PNG payloads go through the SAME real resize kernel and come back
    as PNG: exact nearest-neighbor pixels, format preserved."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    arr = np.arange(4 * 8 * 3, dtype=np.uint8).reshape(4, 8, 3)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(arr)))], "media_id long, payload binary"
    )
    r = mm.resize_pixels_media(df, max_side=4).collect()[0]
    assert (r["width"], r["height"], r["out_width"], r["out_height"]) == (
        8, 4, 4, 2
    )
    out = decode_png_pixels(bytes(r["out_payload"]))
    rows = (np.arange(2) * 4) // 2
    cols = (np.arange(4) * 8) // 4
    assert (out == arr[rows][:, cols]).all()


def test_synth_jpeg_media_roundtrip_exact_and_quarantine(spark):
    """synth_jpeg_media packs a gray-valued 8×8-block-constant grid into
    REAL baseline JPEG bytes (4:2:0, DC quantizer 8 — the analytically
    lossless configuration the oracle entry leans on) and pixels_rows
    decodes them back bit-exactly through the full codec, partial edge
    tiles included; a junk payload emits no rows (quarantine)."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.jpeg import decode_jpeg_pixels

    h, w = 12, 20  # 1 full + 1 partial tile row; 2 full + 1 partial cols
    rows = [
        (7, r, c, ch, ((r // 8) * 37 + (c // 8) * 101 + 7) % 256)
        for r in range(h)
        for c in range(w)
        for ch in range(3)
    ]
    grid = spark.createDataFrame(
        rows, "media_id long, r int, c int, ch int, v int"
    )
    media = mm.synth_jpeg_media(grid).collect()
    assert len(media) == 1
    payload = bytes(media[0]["payload"])
    assert payload[:2] == b"\xff\xd8"
    expected = np.array(
        [[((r // 8) * 37 + (c // 8) * 101 + 7) % 256 for c in range(w)]
         for r in range(h)],
        dtype=np.uint8,
    )
    assert (decode_jpeg_pixels(payload) == expected[:, :, None]).all()

    decoded = mm.pixels_rows(
        spark.createDataFrame(
            [(7, bytearray(payload)), (8, bytearray(b"junk"))],
            "media_id long, payload binary",
        ),
        "payload",
    ).collect()
    assert {r.media_id for r in decoded} == {7}
    got = {(r.r, r.c, r.ch): r.v for r in decoded}
    assert len(got) == h * w * 3
    assert all(got[(r, c, ch)] == int(expected[r, c]) for (r, c, ch) in got)

    with pytest.raises(ValueError, match="subsampling"):
        mm.synth_jpeg_media(grid, subsampling="4:1:1")


def test_shared_assignment_and_encode_match_default_paths(spark):
    """Round-14 sharing parameters (ann_recall_report's one-assignment /
    one-encode-per-codebook optimization): feeding a precomputed
    assign_cells / pq_encode_cells intermediate must be BIT-IDENTICAL to
    each scorer's default inline path — ivf_topk(corpus_cells=),
    pq_topk(codes=), ivfpq_topk(codes=), pq_distortion(encoded=)."""
    import random

    rng = random.Random(7)
    dim, m, n_codes, n_cells, k = 16, 4, 8, 4, 5
    rows = []
    for c in range(n_cells):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for j in range(10):
            vid = c if j == 0 else n_cells + c * 9 + (j - 1)
            rows.append((vid, [x + rng.uniform(-0.15, 0.15) for x in center]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where(F.col("vec_id") < 3)

    cent = df.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    cells = sim.assign_cells(
        df.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        cent,
        id_col="neighbor_id",
    ).localCheckpoint(eager=True)
    cb = sim.pq_codebook_standin(df, dim=dim, m=m, n_codes=n_codes)
    enc = sim.pq_encode_cells(cells, dim=dim, m=m, codebook=cb).localCheckpoint(
        eager=True
    )

    def rows_of(frame):
        return sorted(tuple(r) for r in frame.collect())

    base_ivf = sim.ivf_topk(df, probes, n_cells=n_cells, k=k, n_probe_cells=2)
    shared_ivf = sim.ivf_topk(
        df, probes, n_cells=n_cells, k=k, n_probe_cells=2, corpus_cells=cells
    )
    assert rows_of(base_ivf) == rows_of(shared_ivf)

    base_pq = sim.pq_topk(df, probes, dim=dim, m=m, n_codes=n_codes, k=k)
    shared_pq = sim.pq_topk(
        df, probes, dim=dim, m=m, n_codes=n_codes, k=k, codebook=cb, codes=enc
    )
    assert rows_of(base_pq) == rows_of(shared_pq)

    base_ivfpq = sim.ivfpq_topk(
        df, probes, dim=dim, n_cells=n_cells, n_probe_cells=2, m=m,
        n_codes=n_codes, k=k,
    )
    shared_ivfpq = sim.ivfpq_topk(
        df, probes, dim=dim, n_cells=n_cells, n_probe_cells=2, m=m,
        n_codes=n_codes, k=k, codebook=cb, codes=enc,
    )
    assert rows_of(base_ivfpq) == rows_of(shared_ivfpq)

    base_dist = sim.pq_distortion(df, dim=dim, m=m, n_codes=n_codes)
    shared_dist = sim.pq_distortion(
        df, dim=dim, m=m, n_codes=n_codes, encoded=enc
    )
    assert rows_of(base_dist) == rows_of(shared_dist)
