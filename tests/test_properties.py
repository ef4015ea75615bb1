"""Property-based checks (hypothesis): the distributed temporal operators
must agree with trivially-correct pure-Python references on arbitrary
small inputs — ordering, ties, gaps, and group boundaries included.

Example counts are kept small: each example is a Spark job; the point is
adversarial input SHAPES (hypothesis shrinks to minimal counterexamples),
not volume."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


# (user, t_seconds) unique pairs so orderings are total on both sides
_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50_000)),
    min_size=1,
    max_size=30,
    unique=True,
)

GAP = 3600


def _ref_sessions(rows):
    by_user = defaultdict(list)
    for u, t in rows:
        by_user[u].append(t)
    out = set()
    for u, ts in by_user.items():
        ts.sort()
        start = end = ts[0]
        n, idx = 1, 1
        for t in ts[1:]:
            if t - end > GAP:
                out.add((u, idx, n, start, end))
                idx, n, start = idx + 1, 1, t
            else:
                n += 1
            end = t
        out.add((u, idx, n, start, end))
    return out


@settings(max_examples=6, deadline=None)
@given(_events)
def test_sessionize_matches_reference(spark, rows):
    from weather_bigquery_lakehouse_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [(u, _ts(t)) for u, t in rows], "user long, ts timestamp"
    )
    got = {
        (
            r["user"],
            r["session_idx"],
            r["n_events"],
            int((r["session_start"] - EPOCH).total_seconds()),
            int((r["session_end"] - EPOCH).total_seconds()),
        )
        for r in sessionize(df, "user", "ts", gap_seconds=GAP).collect()
    }
    assert got == _ref_sessions(rows)


def _ref_range_count(left, right, window):
    out = {}
    for u, t in left:
        out[(u, t)] = sum(
            1 for ru, rt in right if ru == u and t - window <= rt < t
        )
    return out


@settings(max_examples=6, deadline=None)
@given(_events, _events)
def test_range_join_count_matches_reference(spark, left_rows, right_rows):
    from weather_bigquery_lakehouse_spark.operators.temporal import range_join_count

    left = spark.createDataFrame(
        [(u, _ts(t)) for u, t in left_rows], "user long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(u, _ts(t)) for u, t in right_rows], "user long, r_ts timestamp"
    )
    got = {
        (r["user"], int((r["ts"] - EPOCH).total_seconds())): r["n_in_range"]
        for r in range_join_count(
            left, right, "user", "ts", "r_ts", window_seconds=GAP
        ).collect()
    }
    assert got == _ref_range_count(left_rows, right_rows, GAP)


def _ref_asof(left, right, strict):
    out = {}
    for u, t in left:
        cands = [rt for ru, rt in right if ru == u and (rt < t if strict else rt <= t)]
        out[(u, t)] = max(cands) if cands else None
    return out


@settings(max_examples=6, deadline=None)
@given(_events, _events, st.booleans())
def test_asof_join_matches_reference(spark, left_rows, right_rows, strict):
    from weather_bigquery_lakehouse_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(u, _ts(t)) for u, t in left_rows], "user long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(u, _ts(t)) for u, t in right_rows], "user long, r_ts timestamp"
    )
    got = {
        (r["user"], int((r["ts"] - EPOCH).total_seconds())): (
            None if r["r_ts"] is None else int((r["r_ts"] - EPOCH).total_seconds())
        )
        for r in asof_join(left, right, "user", "ts", "r_ts", strict=strict).collect()
    }
    assert got == _ref_asof(left_rows, right_rows, strict)


# --------------------------------------------------------------------------
# merge_upsert: must equal dict-overlay semantics for any key overlap
# --------------------------------------------------------------------------

_kv = st.lists(st.tuples(st.integers(0, 9), st.integers(0, 99)), max_size=15)


@settings(max_examples=6, deadline=None)
@given(_kv, _kv)
def test_merge_upsert_matches_dict_overlay(spark, base_rows, upd_rows):
    from weather_bigquery_lakehouse_spark.operators.incremental import merge_upsert

    # unique keys per side (a merge input has one row per key)
    base_rows = list({k: (k, v) for k, v in base_rows}.values())
    upd_rows = list({k: (k, v) for k, v in upd_rows}.values())
    base = spark.createDataFrame(base_rows or [(None, None)], "k int, v int").where(
        F.col("k").isNotNull()
    )
    upd = spark.createDataFrame(upd_rows or [(None, None)], "k int, v int").where(
        F.col("k").isNotNull()
    )
    expected = dict(base_rows)
    expected.update(dict(upd_rows))
    got = {r.k: r.v for r in merge_upsert(base, upd, ["k"]).collect()}
    assert got == expected


# --------------------------------------------------------------------------
# sequence_pack: offsets must equal a sequential cursor per group
# --------------------------------------------------------------------------

_pack_docs = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(1, 700)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=6, deadline=None)
@given(_pack_docs)
def test_sequence_pack_matches_cursor(spark, rows):
    from weather_bigquery_lakehouse_spark.operators.curation import sequence_pack

    rows = list({(g, d): (g, d, n) for g, d, n in rows}.values())
    df = spark.createDataFrame(rows, "source int, doc_id int, n_tok long")
    got = {
        (r.source, r.doc_id): (r.start_offset, r.bin_start, r.bin_end)
        for r in sequence_pack(df, "n_tok", budget=512).collect()
    }
    cursors = defaultdict(int)
    for g, d, n in sorted(rows, key=lambda r: (r[0], r[1])):
        start = cursors[g]
        cursors[g] += n
        assert got[(g, d)] == (start, start // 512, (start + n - 1) // 512)


# --------------------------------------------------------------------------
# scd2_versions: must equal run-length collapse of the per-key sequence
# --------------------------------------------------------------------------

_attr_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(0, 2)),
    min_size=1,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(max_examples=6, deadline=None)
@given(_attr_events)
def test_scd2_matches_run_length_collapse(spark, rows):
    from weather_bigquery_lakehouse_spark.operators.incremental import scd2_versions

    df = spark.createDataFrame(
        [(k, str(a), _ts(t), k * 10_000 + t) for k, t, a in rows],
        "user_id int, attr string, ts timestamp, event_id long",
    )
    out = scd2_versions(df, "user_id", "attr", "ts", "event_id").collect()
    got = {
        (r.user_id, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in out
    }
    by_key = defaultdict(list)
    for k, t, a in sorted(rows, key=lambda r: (r[0], r[1])):
        by_key[k].append((str(a), _ts(t)))
    expected = {}
    for k, seq in by_key.items():
        runs = [seq[0]]
        for a, t in seq[1:]:
            if a != runs[-1][0]:
                runs.append((a, t))
        for i, (a, t) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            expected[(k, i + 1)] = (a, t, nxt, 1 if nxt is None else 0)
    assert got == expected


# --------------------------------------------------------------------------
# exact_quantiles: must match numpy's linear interpolation on any values
# --------------------------------------------------------------------------

_vals = st.lists(
    st.floats(-1e6, 1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(_vals)
def test_exact_quantiles_matches_numpy(spark, vals):
    import numpy as np

    from weather_bigquery_lakehouse_spark.functions.profiling import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    ps = [0.0, 0.25, 0.5, 0.75, 1.0]
    row = exact_quantiles(df, "x", ps, "x").first()
    for p in ps:
        want = round(float(np.quantile(vals, p)), 6)
        got = row[f"x_p{int(p * 100)}"]
        assert abs(got - want) <= 1e-5 * max(1.0, abs(want))


# --------------------------------------------------------------------------
# chunk_documents clamp arithmetic vs a pure-Python reference
# --------------------------------------------------------------------------

_chunk_case = st.tuples(
    st.integers(1, 40),   # n tokens
    st.integers(1, 12),   # chunk_tokens
    st.integers(1, 12),   # stride (clamped to chunk below)
)


def _ref_chunks(tokens: list[str], chunk: int, stride: int):
    n = len(tokens)
    if n <= chunk:
        starts = [0]
    else:
        k = -(-(n - chunk) // stride) + 1  # ceil + 1
        starts = [min(i * stride, n - chunk) for i in range(k)]
    return [
        (i, " ".join(tokens[s : s + chunk]), min(chunk, n - s))
        for i, s in enumerate(starts)
    ]


@settings(max_examples=12, deadline=None)
@given(_chunk_case)
def test_chunk_documents_matches_reference(spark, case):
    """Start/stride/clamp arithmetic across the full (n, chunk, stride)
    grid incl. n <= chunk and stride == chunk edges: every chunk full-size
    except the single-chunk short doc, (doc_id, chunk_idx) stable."""
    from weather_bigquery_lakehouse_spark.operators.text import chunk_documents

    n, chunk, stride = case
    stride = min(stride, chunk)
    tokens = [f"w{i}" for i in range(n)]
    docs = spark.createDataFrame([(1, " ".join(tokens))], "doc_id long, text string")
    got = sorted(
        (r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(docs, chunk_tokens=chunk, stride=stride).collect()
    )
    assert got == _ref_chunks(tokens, chunk, stride)


# --------------------------------------------------------------------------
# z-order quantize / interleave (pure SQL templates → DuckDB examples are
# cheap, no Spark job per case; Spark-dialect parity is the oracle gate's)
# --------------------------------------------------------------------------

_zvals = st.lists(st.integers(-(10**15), 10**15), min_size=1, max_size=40)


@settings(max_examples=40, deadline=None)
@given(_zvals, st.sampled_from([4, 8, 16]))
def test_zorder_quantize_bounds_and_monotone(vals, bits):
    import duckdb

    from weather_bigquery_lakehouse_spark.operators.layout import quantize_sql

    lo, hi = min(vals), max(vals)
    expr = quantize_sql("x", str(lo), str(hi), bits, "//")
    rows = duckdb.sql(
        f"SELECT x, {expr} AS q FROM (SELECT unnest({vals!r}) AS x) ORDER BY x"
    ).fetchall()
    qs = [q for _, q in rows]
    assert all(0 <= q < (1 << bits) for q in qs)
    assert qs == sorted(qs)  # monotone in x
    # extremes map to the ends' buckets: min → 0 always
    assert rows[0][1] == 0


def _py_interleave(qa: int, qb: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((qa >> b) & 1) << (2 * b)
        z |= ((qb >> b) & 1) << (2 * b + 1)
    return z


@settings(max_examples=40, deadline=None)
@given(
    st.integers(0, (1 << 16) - 1),
    st.integers(0, (1 << 16) - 1),
    st.sampled_from([4, 8, 16]),
)
def test_zorder_interleave_matches_bit_reference(qa, qb, bits):
    import duckdb

    from weather_bigquery_lakehouse_spark.operators.layout import interleave_sql

    qa, qb = qa % (1 << bits), qb % (1 << bits)
    got = duckdb.sql(
        f"SELECT {interleave_sql(str(qa), str(qb), bits, '//')} AS z"
    ).fetchone()[0]
    assert got == _py_interleave(qa, qb, bits)
    # bijective: both operands recoverable from the key
    back_a = sum(((got >> (2 * b)) & 1) << b for b in range(bits))
    back_b = sum(((got >> (2 * b + 1)) & 1) << b for b in range(bits))
    assert (back_a, back_b) == (qa, qb)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 20), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    ),
    st.integers(0, 120),
)
def test_token_budget_sample_matches_prefix_reference(spark, rows, budget_a):
    """Kept set == the md5-order prefix whose inclusive token cumsum fits
    the domain budget — checked against a trivially-correct reference."""
    import hashlib

    from weather_bigquery_lakehouse_spark.operators.curation import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, "w " * n, s) for i, n, s in rows],  # n=0 → "" (0 tokens), not NULL
        "doc_id long, text string, source string",
    )
    budgets = {"a": budget_a, "b": 10_000}
    out = {
        r.doc_id: r.cum_tokens
        for r in token_budget_sample(docs, budgets, seed="p").collect()
    }

    expect = {}
    for src, cap in budgets.items():
        cum = 0
        pool = [
            (hashlib.md5(f"p|{i}".encode()).hexdigest(), i, n)
            for i, n, s in rows
            if s == src
        ]
        for _, i, n in sorted(pool):
            if cum + n > cap:
                break
            cum += n
            expect[i] = cum
    assert out == expect


# ---------------------------------------------------------------------------
# Bounded-memory sketches: CMS one-sidedness, Bloom no-false-negatives
# ---------------------------------------------------------------------------

_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=3,
    max_size=12,
)
_sketch_docs = st.lists(_words, min_size=1, max_size=12)


@settings(max_examples=6, deadline=None)
@given(_sketch_docs, st.integers(1, 3), st.sampled_from([4, 8, 64]))
def test_cms_never_undercounts_any_width(spark, docs, d, w):
    """CMS one-sided error must hold for ANY sketch geometry, including
    widths far too narrow for the vocabulary (max collisions), and the
    exact counts must match a pure-Python counter."""
    from collections import Counter

    from weather_bigquery_lakehouse_spark.operators import curation as cu

    rows = [(i, " ".join(ws), "en") for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = cu.cms_heavy_hitters(df, d=d, w=w, hh_frac=10**6, k=3).collect()
    truth = Counter(
        " ".join(ws[i : i + 3]) for ws in docs for i in range(len(ws) - 2)
    )
    got = {r.span: (r.n_exact, r.n_cms_est) for r in out}
    # hh_frac=1e6 admits every span (n * 1e6 >= total always for n >= 1)
    assert set(got) == set(truth)
    for span, (n_exact, n_est) in got.items():
        assert n_exact == truth[span]
        assert n_est >= n_exact


@settings(max_examples=6, deadline=None)
@given(_sketch_docs, st.sampled_from([64, 1 << 16]))
def test_bloom_no_false_negatives_any_filter_width(spark, docs, m):
    """Bloom hits must be a superset of exact hits for ANY filter width —
    even an absurdly small m (guaranteed saturation) can only ADD false
    positives, never hide a real contamination."""
    from weather_bigquery_lakehouse_spark.operators import curation as cu

    rows = [(i, " ".join(ws), "en") for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    exact = {r.doc_id: r for r in cu.decontaminate_ngram_overlap(df).collect()}
    # max_fill=1.0 disables the saturation guard: this test deliberately
    # drives the filter into saturation to prove the error stays one-sided
    bloom = {
        r.doc_id: r for r in cu.decontaminate_bloom(df, m=m, max_fill=1.0).collect()
    }
    assert set(bloom) == set(exact)
    for i, b in bloom.items():
        assert b.n_shingles == exact[i].n_shingles
        assert b.n_bloom_hits >= exact[i].n_contaminated


@settings(max_examples=6, deadline=None)
@given(_sketch_docs, st.integers(0, 100))
def test_incremental_lsh_is_exact_restriction_any_corpus(spark, docs, cut):
    """For ANY corpus and ANY increment fraction (including empty and
    all-new), the incremental pairs must equal the full lsh_verified run
    restricted to new-involving pairs — same jaccard values — and no
    base-base pair may ever appear."""
    from weather_bigquery_lakehouse_spark.operators import dedup as dd
    from weather_bigquery_lakehouse_spark.operators.curation import md5_bucket

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pred = md5_bucket("doc_id", salt="prop|") >= cut
    new_ids = {r.doc_id for r in df.select("doc_id").where(pred).collect()}
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.lsh_verified_pairs(df, threshold=0.3).collect()
    }
    inc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.incremental_lsh_pairs(df, pred, threshold=0.3).collect()
    }
    want = {p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids}
    assert inc == want
    for a, b in inc:
        assert a in new_ids or b in new_ids


# ---------------------------------------------------------------------------
# Deterministic k-means: the Spark trainer must agree with the pure-python
# exact-integer Lloyd reference on arbitrary corpora — duplicate vectors,
# negative components, ties, empty clusters, sampled and full training.
# ---------------------------------------------------------------------------

_vectors = st.lists(
    st.lists(
        st.floats(-2.0, 2.0, allow_nan=False, allow_infinity=False, width=32),
        min_size=3,
        max_size=3,
    ),
    min_size=3,
    max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(_vectors, st.integers(0, 3), st.booleans())
def test_kmeans_matches_exact_reference_on_arbitrary_corpora(
    spark, vecs, n_iter, sampled
):
    from tests.test_kmeans import _frame, _numpy_free_reference
    from weather_bigquery_lakehouse_spark.operators import kmeans as km

    n_codes = min(3, len(vecs))
    sample_n = max(n_codes, len(vecs) - 1) if sampled else None
    got = {
        r["cell_id"]: r["centroid"]
        for r in km.kmeans_centroids(
            _frame(spark, vecs), n_cells=n_codes, n_iter=n_iter,
            sample_n=sample_n,
        ).collect()
    }
    assert got == _numpy_free_reference(
        vecs, n_codes=n_codes, n_iter=n_iter, sample_n=sample_n
    )


# --- BPE trainer vs a pure-Python reference on arbitrary tiny corpora -----

_bpe_docs = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=6, deadline=None)
@given(_bpe_docs, st.integers(0, 4))
def test_bpe_train_agrees_with_reference_on_arbitrary_corpora(
    spark, texts, n_merges
):
    from weather_bigquery_lakehouse_spark.operators import bpe
    from tests.test_bpe import _ref_bpe

    counts: dict[str, int] = {}
    for t in texts:
        for w in t.lower().split():
            counts[w] = counts.get(w, 0) + 1
    ref_merges, ref_words = _ref_bpe(counts, n_merges)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, words = bpe.bpe_train(df, n_merges=n_merges)
    assert merges == ref_merges
    got = {r["word"]: r["syms"] for r in words.collect()}
    assert got == dict(ref_words)


# --- PageRank vs a pure-Python reference on arbitrary small graphs --------


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_pagerank_agrees_with_reference_on_arbitrary_graphs(spark, data):
    from tests.test_graph import _ref_pagerank, _run

    n = data.draw(st.integers(1, 6))
    nodes = list(range(n))
    # arbitrary directed multigraph INCLUDING self-loops and duplicate
    # edges — out-degree counts multiplicity on both sides
    edges = data.draw(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            max_size=12,
        )
    )
    n_iter = data.draw(st.integers(1, 3))
    assert _run(spark, nodes, edges, n_iter=n_iter) == _ref_pagerank(
        nodes, edges, n_iter=n_iter
    )


# --- incremental rollup state: merge ≡ recompute ---------------------------

_rollup_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(-100_000, 100_000).map(lambda c: c / 100.0),  # exact 2dp
    ),
    min_size=0,
    max_size=24,
)


@settings(max_examples=12, deadline=None)
@given(_rollup_rows, st.integers(0, 24), st.integers(0, 24))
def test_rollup_state_merge_equals_recompute(spark, rows, cut1, cut2):
    """Any 3-way batching of the input merges to the SAME state (and the
    same presentation rows) as a single recompute — the associativity
    the incremental-refresh entry relies on. Decimal sums make this an
    identity; float sums would make it merge-order-dependent."""
    from weather_bigquery_lakehouse_spark.operators import incremental as inc

    lo, hi = sorted((min(cut1, len(rows)), min(cut2, len(rows))))
    parts = [rows[:lo], rows[lo:hi], rows[hi:]]
    schema = "k string, v double"

    def state_of(batch_rows):
        df = spark.createDataFrame(batch_rows or [], schema)
        return inc.rollup_state(df, ["k"], "v")

    merged = state_of(parts[0])
    for p in parts[1:]:
        merged = inc.merge_rollup_state(merged, state_of(p), ["k"])
    recomputed = state_of(rows)

    def snap(state):
        return sorted(tuple(r) for r in inc.rollup_present(state, ["k"]).collect())

    assert snap(merged) == snap(recomputed)


@settings(max_examples=6, deadline=None)
@given(_bpe_docs, st.integers(0, 5), st.integers(1, 4))
def test_bpe_batched_equals_sequential_on_arbitrary_corpora(
    spark, texts, n_merges, batch_size
):
    """Batched top-B merge selection is BIT-IDENTICAL to sequential
    training on arbitrary corpora at arbitrary batch sizes — the guard
    may shrink a batch (prefix-stop) but never changes the result."""
    from weather_bigquery_lakehouse_spark.operators import bpe

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seq_merges, seq_words = bpe.bpe_train(df, n_merges=n_merges)
    merges, words = bpe.bpe_train_batched(
        df, n_merges=n_merges, batch_size=batch_size
    )
    assert merges == seq_merges
    assert {r["word"]: r["syms"] for r in words.collect()} == {
        r["word"]: r["syms"] for r in seq_words.collect()
    }


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["p0", "p1"]),
            st.integers(0, 999999),
        ),
        min_size=0,
        max_size=30,
        unique_by=lambda t: t,
    ),
    st.integers(1, 500),
)
def test_compaction_bins_invariants_on_arbitrary_inventories(
    spark, inv, min_bytes
):
    """Planner invariants on arbitrary file inventories: the plan is a
    partition of the input (every file exactly once), compliant files
    keep with NULL bin, every non-final bin per partition totals more
    than target - min (the idempotence lemma), bin ids are contiguous
    from 0, and re-planning the post-merge inventory rewrites nothing
    but (possibly) the final bins."""
    from weather_bigquery_lakehouse_spark.io.maintenance import compaction_bins

    target = 2 * min_bytes
    rows = [
        (p, f"f{i:06d}", size) for i, (p, size) in enumerate(inv)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "part string, path string, size_bytes long")
    plan = compaction_bins(
        df, target_bytes=target, partition_cols=["part"],
    ).collect()
    assert sorted((r["part"], r["path"]) for r in plan) == sorted(
        (p, f) for p, f, _ in rows
    )
    by_part: dict[str, dict[int, int]] = {}
    for r in plan:
        if r["action"] == "keep":
            assert r["size_bytes"] >= min_bytes and r["bin_id"] is None
        else:
            assert r["size_bytes"] < min_bytes and r["bin_id"] is not None
            by_part.setdefault(r["part"], {})
            by_part[r["part"]][r["bin_id"]] = (
                by_part[r["part"]].get(r["bin_id"], 0) + r["size_bytes"]
            )
    for part, bins in by_part.items():
        ids = sorted(bins)
        assert ids == list(range(len(ids))), (part, ids)
        for b in ids[:-1]:  # every non-final bin clears the compliance bar
            assert bins[b] > target - min_bytes >= min_bytes

    # idempotence at the PLAN level: merge each >=2-file bin into one
    # virtual file, re-plan — nothing may rewrite except 1-file bins
    # (the executor skips those) and at most ONE undersized merged
    # output per partition (the final bin)
    merged_rows = [
        (r["part"], r["path"], r["size_bytes"])
        for r in plan
        if r["action"] == "keep"
    ]
    from collections import Counter

    bin_files = Counter()
    for r in plan:
        if r["action"] == "rewrite":
            bin_files[(r["part"], r["bin_id"])] += 1
    for r in plan:
        if r["action"] == "rewrite" and bin_files[(r["part"], r["bin_id"])] == 1:
            merged_rows.append((r["part"], r["path"], r["size_bytes"]))
    for (part, b), n in bin_files.items():
        if n >= 2:
            total = by_part[part][b]
            merged_rows.append((part, f"compact-{b:05d}", total))
    df2 = spark.createDataFrame(
        merged_rows, "part string, path string, size_bytes long"
    )
    plan2 = compaction_bins(
        df2, target_bytes=target, partition_cols=["part"],
    ).collect()
    rewrite_bins2 = Counter()
    for r in plan2:
        if r["action"] == "rewrite":
            rewrite_bins2[(r["part"], r["bin_id"])] += 1
    assert all(n == 1 for n in rewrite_bins2.values()), (
        "second plan found a >=2-file bin — OPTIMIZE would not be idempotent"
    )


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 12), st.integers(1, 12), st.sampled_from([3, 4]),
    st.integers(0, 2**32 - 1),
)
def test_png_codec_roundtrips_arbitrary_images(w, h, channels, seed):
    """encode_png ∘ decode_png_pixels is the identity on arbitrary 8-bit
    truecolor images (RGB and RGBA, any small dimensions)."""
    import numpy as np

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(seed)  # test-only; seed is hypothesis-drawn
    arr = rng.integers(0, 256, size=(h, w, channels), dtype=np.uint8)
    out = decode_png_pixels(encode_png(arr))
    assert out is not None and out.shape == arr.shape and (out == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_decoder_matches_reference_on_arbitrary_filtered_streams(data):
    """decode_png_pixels agrees with the independent pure-Python spec
    un-filter on arbitrary per-row filter choices and filtered bytes."""
    import numpy as np

    from tests.test_operators import _png_manual, _ref_unfilter
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
    )

    w = data.draw(st.integers(1, 6))
    h = data.draw(st.integers(1, 6))
    bpp = data.draw(st.sampled_from([3, 4]))
    rows = [
        (
            data.draw(st.integers(0, 4)),
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * bpp, max_size=w * bpp
                )
            ),
        )
        for _ in range(h)
    ]
    got = decode_png_pixels(_png_manual(w, h, bpp, rows))
    ref = np.array(_ref_unfilter(w, h, bpp, rows), dtype=np.uint8).reshape(
        h, w, bpp
    )
    assert got is not None and (got == ref).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=200))
def test_wav_codec_roundtrips_arbitrary_samples(samples):
    """encode_wav ∘ decode_wav_pcm is the identity on arbitrary int16
    sample sequences, and the parsed header frame count is exact."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_wav_pcm,
        encode_wav,
        parse_audio_header,
    )

    wav = encode_wav(samples)
    assert parse_audio_header(wav) == ("wav", 1, 8000, 16, len(samples))
    pcm = decode_wav_pcm(wav)
    assert pcm.shape == (len(samples), 1)
    assert list(pcm[:, 0]) == samples


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 2**32 - 1),
    st.integers(0, 2**40),
    st.sampled_from([0, 1]),
    st.booleans(),
)
def test_mp4_codec_roundtrips_arbitrary_params(timescale, duration, version, largesize):
    """encode_mp4 ∘ parse_video_header recovers duration_ms exactly for
    arbitrary (timescale, duration) across both mvhd versions and the
    largesize moov header — v0 durations clamp to u32 range."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        encode_mp4,
        parse_video_header,
    )

    if version == 0:
        duration %= 2**32
    got = parse_video_header(
        encode_mp4(timescale, duration, version=version, largesize=largesize)
    )
    assert got == ("mp4", duration * 1000 // timescale, None, None, None)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 2**32 - 1), st.integers(0, 2**20),
    st.integers(0, 2**16), st.integers(0, 2**16),
)
def test_avi_codec_roundtrips_arbitrary_params(uspf, frames, w, h):
    """encode_avi ∘ parse_video_header recovers every avih field."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        encode_avi,
        parse_video_header,
    )

    got = parse_video_header(encode_avi(uspf, frames, w, h))
    assert got == ("avi", frames * uspf // 1000, w, h, frames)


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=256))
def test_media_parsers_never_raise_on_arbitrary_bytes(payload):
    """The quarantine contract for every pure-byte header parser: on
    ARBITRARY bytes they return a parse or None — never raise (a worker
    exception would kill the Arrow stage instead of quarantining the
    row). Exercised with raw fuzz AND magic-prefixed fuzz so the walks
    past the signature checks run too."""
    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        parse_audio_header,
        parse_image_header,
        parse_video_header,
    )

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_pixels,
        decode_png_pixels,
        decode_ppm_pixels,
        decode_wav_pcm,
    )

    prefixes = [
        b"",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",  # JPEG SOI — drives the marker walk incl. fill bytes
        b"P6 ",
        b"RIFF\xff\xff\xff\xffWAVE",
        b"RIFF\xff\xff\xff\xffAVI ",
        b"\x00\x00\x00\x10ftypisom",
    ]
    decoders = (
        parse_image_header, parse_audio_header, parse_video_header,
        decode_pixels, decode_png_pixels, decode_ppm_pixels, decode_wav_pcm,
    )
    for pre in prefixes:
        for fn in decoders:
            fn(pre + payload)  # must not raise; result shape is fn's contract


def test_png_short_ihdr_quarantines_not_raises():
    """Regression: a chunk-valid PNG whose IHDR payload is shorter than
    13 bytes must decode to None (quarantine), not raise struct.error
    and kill the Arrow stage."""
    import struct
    import zlib

    from weather_bigquery_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    p = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"12345") + chunk(b"IEND", b"")
    assert decode_png_pixels(p) is None
