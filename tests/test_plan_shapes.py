"""Plan-shape regression tests.

Correctness is the oracle gate's job; THESE tests pin the physical plans —
a refactor that silently de-optimizes (loses a pushed filter, widens a
scan, turns a broadcast join into a shuffle, adds an Exchange) fails here
even though results stay identical. Each assertion documents the plan
property that matters at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

from weather_bigquery_lakehouse_spark.io.readers import load_testdata
from weather_bigquery_lakehouse_spark.operators import dedup as dd
from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES as QUERIES


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_project_pushes_predicates_and_prunes_columns(spark, sf_dir):
    """Both predicates must reach the parquet scan (row-group/page skipping
    at scale) and the scan must read exactly the referenced columns — a
    full-width scan of a 16-column fact table for a 4-column projection
    reads 4x the bytes."""
    plan = _plan(QUERIES["filter_project_pushdown"].fn(spark, sf_dir))
    assert "GreaterThan(l_discount,0.05)" in plan, "discount filter not pushed"
    assert "LessThan(l_shipdate" in plan, "shipdate filter not pushed"
    scan_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan_schema
    assert "l_comment" not in scan_schema and "l_quantity" not in scan_schema


def test_flagship_star_is_broadcast_only_with_two_exchanges(spark, sf_dir):
    """The star query's only shuffles are the two-phase countDistinct
    aggregate (partial by (r_name, custkey), final by r_name). Every dim
    join must be a BroadcastHashJoin — a SortMergeJoin here would shuffle
    the full fact table per dim — and the orders scan must be pruned to
    the 3 referenced columns."""
    plan = _plan(QUERIES["flagship_star_revenue"].fn(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    orders_scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "orders.parquet" in l
    )
    assert "ReadSchema: struct<o_custkey:bigint,o_totalprice:double,o_orderdate" in orders_scan


def test_lsh_bucket_cap_is_broadcast_anti_join(spark, sf_dir):
    """The hot-bucket cap must stay a broadcast LeftAnti join against the
    (tiny) oversized-key list — if it regresses to a shuffled anti-join or
    a windowed count, every banded row reshuffles just to apply the cap."""
    docs = load_testdata(spark, sf_dir, ["documents"])["documents"]
    plan = _plan(dd.lsh_candidate_pairs(docs), "simple")
    anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti_lines, "bucket-size cap anti-join disappeared from the plan"
    assert all("BroadcastHashJoin" in l for l in anti_lines), (
        "cap anti-join is no longer broadcast:\n" + "\n".join(anti_lines)
    )


def test_merge_upsert_base_side_never_shuffles(spark, sf_dir):
    """The MERGE upsert's anti-join must be broadcast: the base (100 TB
    fact) side reads straight through with NO hashpartitioning Exchange —
    a shuffled anti-join would move the whole base table to apply a small
    update batch."""
    plan = _plan(QUERIES["merge_upsert_orders"].fn(spark, sf_dir), "simple")
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and all("BroadcastHashJoin" in l for l in anti)
    assert "Exchange hashpartitioning" not in plan


def test_profile_has_no_expand(spark, sf_dir):
    """profile() computes k exact distinct counts as independent two-phase
    branches; a combined multi-countDistinct aggregate would reintroduce
    Expand, which multiplies every input row k-fold before any partial
    aggregation."""
    plan = _plan(QUERIES["profile_lineitem"].fn(spark, sf_dir), "simple")
    assert "Expand" not in plan


def test_exact_quantiles_has_no_percentile_buffer(spark, sf_dir):
    """The quantile plan must stay histogram-based: F.percentile's
    aggregation buffer collects the full column into one task. Rank
    probes must be broadcast."""
    plan = _plan(QUERIES["quantiles_lineitem"].fn(spark, sf_dir), "simple")
    assert "percentile" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny rank set probes the histogram


def test_decontaminate_eval_side_broadcasts(spark, sf_dir):
    """The eval shingle set (benchmark-sized) must broadcast; the training
    side streams through without an extra shuffle for the semi-join."""
    plan = _plan(QUERIES["decontaminate_ngram_overlap"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    # the only hash exchanges are the doc-spread repartition reused by the
    # two per-doc aggregates and the eval-distinct — never a join shuffle
    join_lines = [l for l in plan.splitlines() if "Join" in l and "Broadcast" not in l]
    assert not join_lines, "non-broadcast join appeared:\n" + "\n".join(join_lines)


def test_anomaly_zscore_stats_broadcast_back(spark, sf_dir):
    """Group statistics (a handful of rows) must broadcast onto the event
    stream — shuffling the events by event_type to attach 4 numbers would
    move the whole table and concentrate hot event types."""
    plan = _plan(QUERIES["anomaly_zscore_events"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_session_plan_overlap_join_is_salted(spark, sf_dir):
    """The sessions×SCD2 interval join keys on user_id, a power-law key:
    the plan must carry the 8-way salt (pmod-of-hash on the left, explode
    replication on the right) so a hot user's cross product spreads over
    8 tasks instead of one straggler."""
    plan = _plan(QUERIES["session_plan_overlap"].fn(spark, sf_dir), "simple")
    assert "__salt" in plan, "salt column missing — hot-key spread lost"
    assert "pmod" in plan.lower()
    assert "Explode" in plan or "explode" in plan


def test_rag_probe_side_pushes_doc_filter_and_broadcasts_probes(spark, sf_dir):
    """The composed RAG query must (a) push the probe-doc filter into the
    probe side's parquet scan — chunking+embedding the whole corpus twice
    to select two docs' chunks would double the heaviest stage — and (b)
    broadcast the (tiny) probe side into the scoring cross join, never
    shuffling the chunk index."""
    plan = _plan(QUERIES["rag_chunk_index_topk"].fn(spark, sf_dir))
    pushed = [
        l for l in plan.splitlines()
        if "PushedFilters" in l and "LessThan(doc_id,2)" in l
    ]
    assert pushed, "probe doc_id filter not pushed into a parquet scan"
    # the tiny probe side is broadcast into the scoring cross join
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    # exactly two documents scans: one full corpus scan feeding the index,
    # one doc_id-pruned probe scan — not two corpus-wide chunk+embed passes
    scans = plan.count("documents.parquet]")
    assert scans == 2, f"expected 2 documents scans (corpus + probes), got {scans}"
    assert plan.count("LessThan(doc_id,2)") == 1


def test_chunk_index_refresh_base_never_shuffles(spark, sf_dir):
    """Incremental index maintenance: the changed-key anti-join must be a
    broadcast LeftAnti — a shuffled anti-join would move the entire (100 TB)
    chunk index to replace a handful of changed docs."""
    plan = _plan(QUERIES["chunk_index_refresh"].fn(spark, sf_dir), "simple")
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and all("BroadcastHashJoin" in l for l in anti)
    assert "SortMergeJoin" not in plan


def test_curation_pipeline_gate_evaluates_once(spark, sf_dir):
    """The corpus pipeline pins ONE evaluation of the HOF-heavy Gopher
    gate behind an aggregate barrier. Without it, predicate pushdown
    substitutes the flag-conjunction tree into the Filter and the token
    HOFs re-evaluate several times over (measured 17 s vs 1.6 s at sf0.1).
    Pin: the interpreted lambda count stays at the barriered plan's level."""
    plan = _plan(QUERIES["corpus_curation_pipeline"].fn(spark, sf_dir), "simple")
    # healthy barriered plan: the gopher stage's lambdas appear once; the
    # regressed plan inlines them into filter + project (several-fold).
    n = plan.count("lambdafunction")
    assert n <= 30, f"lambda count {n} — gopher gate evaluating more than once?"
    # and the barrier itself: an aggregate keyed on doc_id below the filter
    assert "passes" in plan


def test_token_budget_windows_all_partitioned_and_offsets_broadcast(spark, sf_dir):
    """The distributed-cumsum decomposition must hold: every Window is
    PARTITIONED (a data-scale unpartitioned window is the single-reducer
    collapse the sharding exists to avoid), and the metadata offsets +
    budget frames join back as broadcasts, never shuffling the corpus
    side."""
    plan = _plan(QUERIES["token_budget_sample"].fn(spark, sf_dir), "simple")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            # partition columns come before the ORDER BY spec
            assert "windowspecdefinition(source" in line, f"unpartitioned window: {line[:160]}"
    assert plan.count("BroadcastHashJoin") >= 2  # budgets + offsets
    # corpus side is scanned for the window chain, the shard sizes, and
    # the triangular offset join's second size operand — three bounded
    # scans, no checkpoint barrier (recompute measured cheaper at toy SF,
    # both consumers reduce map-side)
    assert plan.count("documents.parquet") == 3


def test_bigram_lm_contexts_come_from_the_count_table(spark, sf_dir):
    """Context totals c(prev,·) must derive from the vocab²-bounded bigram
    count table via a partitioned window — NOT a groupBy + self-join on
    bgc, which doubles the corpus explode (this pin held the documents
    scan count at 3; the join shape measured 4)."""
    plan = _plan(QUERIES["quality_bigram_lm"].fn(spark, sf_dir), "simple")
    assert plan.count("documents.parquet") == 3
    windows = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert windows, "context-total window missing"
    for line in windows:
        # the split(prev) key is pre-projected (_w0); partitioned means the
        # spec's first operand is a column, not the frame itself
        assert "windowspecdefinition(specifiedwindowframe" not in line, (
            f"unpartitioned window: {line[:160]}"
        )


def test_zorder_key_is_broadcast_bounds_with_zero_exchanges(spark, sf_dir):
    """The z-key computation must be a pure map after a broadcast 1-row
    min/max probe: ZERO hash exchanges (any Exchange here would shuffle
    the corpus to compute per-row arithmetic) and the bounds cross-join a
    BroadcastNestedLoopJoin."""
    plan = _plan(QUERIES["zorder_layout_events"].fn(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("events.parquet") == 2  # key map + bounds probe


def test_bloom_filter_positions_broadcast_and_no_join_shuffle(spark, sf_dir):
    """Both joins keyed on sketch state must broadcast: the <= m-row Bloom
    position set onto the candidate probes, and the hit-shingle set back
    onto the training stream via the shingle key the train side already
    shuffled on — an SMJ on either would re-shuffle the corpus-scale side
    to attach constant-size state."""
    plan = _plan(QUERIES["decontaminate_bloom"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    bad = [
        l
        for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l) and "pos" in l
    ]
    assert not bad, "bloom position join shuffled:\n" + "\n".join(bad)


def test_cms_cells_broadcast_and_sketch_build_combines_map_side(spark, sf_dir):
    """The d×w cell grid (constant-size) must broadcast onto the probe
    side, and the sketch build must partial-aggregate before its exchange
    (map-side combine is what makes the build's shuffle d*w-bounded per
    task instead of corpus-sized)."""
    plan = _plan(QUERIES["cms_heavy_hitters"].fn(spark, sf_dir), "formatted")
    assert "BroadcastHashJoin" in plan
    # the (r, b) cell aggregate appears as partial + final HashAggregate
    # pair around its exchange
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan


def test_contrastive_pairs_windows_group_limit_no_cartesian(spark, sf_dir):
    """Both hardest-pair rankings must be per-anchor windows compiled with
    WindowGroupLimit pushdown (Partial before the exchange + Final after:
    each task forwards ONE candidate row per anchor instead of the whole
    bucket-bounded candidate set), and no join may degrade to a
    cartesian/broadcast-nested-loop — candidate generation is keyed on the
    LSH bucket, label attachment on ids."""
    plan = _plan(QUERIES["contrastive_pairs"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 4, "top-1 not pushed map-side"
    assert ", Partial" in plan and ", Final" in plan
    # windows are keyed on the anchor, never empty-partition (global)
    assert "windowspecdefinition(anchor" in plan
    assert "windowspecdefinition(," not in plan


def test_ivfpq_vectors_cross_one_shuffle_and_probe_tables_broadcast(spark, sf_dir):
    """IVF-PQ's memory contract: float vectors cross exactly ONE
    shuffle — the coarse-assignment aggregate BEFORE encode (the encode
    argmin then reuses that partitioning; a second vector-bearing
    exchange would mean the corpus moved as floats after compression).
    The probe distance table and the (query, cell) list must broadcast
    onto the code stream (an SMJ there re-shuffles the corpus-scale code
    side to attach probe-bounded state)."""
    plan = _plan(QUERIES["similarity_ivfpq_topk"].fn(spark, sf_dir), "formatted")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # formatted detail: each non-broadcast Exchange block lists its Input
    # columns. Exactly three are allowed — the coarse-assign aggregate
    # (the ONE place the vector moves, as its first() partial-agg buffer),
    # the probe-bounded cell-rank window, and the final top-k window; the
    # vector buffer (first#N) may appear in only the first
    blocks = [
        b
        for b in plan.split("\n\n")
        if b.startswith("(") and ") Exchange" in b.split("\n")[0]
    ]
    assert len(blocks) == 3, "expected 3 shuffles, got %d" % len(blocks)
    vec_exchanges = [b for b in blocks if "first#" in b or "embedding#" in b]
    assert len(vec_exchanges) == 1, (
        "vector buffer crossed %d exchanges" % len(vec_exchanges)
    )
    assert "neighbor_id" in vec_exchanges[0]  # it IS the assign shuffle


def test_mixture_temperature_is_one_scan_one_broadcast_no_shuffle(spark, sf_dir):
    """Temperature sampling must keep mixture_balance's shape: ONE pruned
    corpus scan (doc_id + source only), the basis-point rate list
    broadcast (never an SMJ — the corpus would re-shuffle to attach a
    |domains|-row table), zero corpus shuffles."""
    plan = _plan(
        QUERIES["mixture_temperature_sample"].fn(spark, sf_dir), "simple"
    )
    assert plan.count("FileScan") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_incremental_lsh_flag_reaches_the_banded_join(spark, sf_dir):
    """The incremental contract's plan half: the increment flag must be a
    condition OF the banded self-join (base-base pairs never materialize)
    — not a post-hoc filter over the full pair set. Pinned on the
    un-checkpointed candidate stage, where the join is still visible."""
    from pyspark.sql import functions as F

    from weather_bigquery_lakehouse_spark.operators.dedup import (
        _candidate_pairs_from_sig,
        minhash_signatures,
    )
    from weather_bigquery_lakehouse_spark.operators.curation import md5_bucket

    docs = load_testdata(spark, sf_dir, ["documents"])["documents"]
    sig = minhash_signatures(docs).join(
        docs.select(
            "doc_id", (md5_bucket("doc_id", salt="incr|") >= 80).cast("int").alias("__new")
        ),
        "doc_id",
    )
    cand = _candidate_pairs_from_sig(sig, "doc_id", 16, 2, None, flag_col="__new")
    plan = _plan(cand, "simple")
    join_lines = [
        l for l in plan.splitlines() if "Join" in l and "band_hash" in l
    ]
    assert join_lines and all("__new" in l for l in join_lines), (
        "flag condition missing from the banded join:\n" + "\n".join(join_lines)
    )


def test_corpus_datasheet_is_one_scan_one_tokenize(spark, sf_dir):
    """The datasheet must be a single corpus pass: one FileScan (the naive
    compose-and-cross-join shape costs 5 full scans at 100 TB) and ONE
    tokenizer evaluation per row (the language CASE references the token
    array dozens of times; HOF references are not CSE'd, so an inlined
    tokenizer would re-run the regex split per reference)."""
    plan = _plan(QUERIES["corpus_datasheet"].fn(spark, sf_dir), "simple")
    assert plan.count("FileScan") == 1
    assert plan.count("split(lower") == 1


def test_priority_sample_is_takeordered_no_window(spark):
    """The weighted sample's global top-k must compile to
    TakeOrderedAndProject (per-partition k-row heaps) — a full sort or a
    no-partition window here would serialize the corpus through one
    task; the rank join is broadcast-triangular, so NO hash exchange and
    NO window appear anywhere."""
    from weather_bigquery_lakehouse_spark.operators import curation as cu

    docs = spark.createDataFrame(
        [(i, 10 + i) for i in range(40)], "doc_id long, n_chars long"
    )
    plan = _plan(cu.priority_sample(docs, "n_chars", k=5), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_ohlc_bars_is_one_hash_aggregate(spark):
    """OHLC must stay a single two-phase hash aggregate: one exchange,
    no window, no join — the shape that scales like a groupBy count."""
    from pyspark.sql import functions as F

    from weather_bigquery_lakehouse_spark.operators import temporal as tp

    ev = spark.createDataFrame(
        [(1, "a", "2024-01-01 10:00:00", 1.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _plan(tp.ohlc_bars(ev), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan and "Join" not in plan


def test_entity_resolution_scores_have_no_cartesian_and_broadcast_cap(spark):
    """The blocking self-join must be an equi-join on the block key (no
    cartesian anywhere), and the hot-block cap must ride a BROADCAST
    anti-join — re-shuffling the corpus to apply the cap would double
    the operator's dominant cost."""
    from weather_bigquery_lakehouse_spark.operators import records as rc

    df = spark.createDataFrame(
        [(i, f"name{i}", i % 3) for i in range(30)],
        "rid long, name string, region long",
    )
    plan = _plan(
        rc.record_match_scores(df, "rid", {"name": 1}, ["region"]), "simple"
    )
    assert "CartesianProduct" not in plan
    # the cap rides once per self-join side (Catalyst re-derives the
    # capped base per reference — a tiny agg + broadcast, acceptable);
    # what must NEVER appear is a shuffled anti-join
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("LeftAnti") == 2
    assert "SortMergeJoin" in plan  # the block-keyed self-join itself


def test_merge_rollup_state_is_union_plus_aggregate_no_join(spark):
    """Incremental-refresh cost model: merging two states must be a
    unionByName + ONE hash aggregate — a key-keyed join here would pay
    two shuffles and break the any-batching associativity story."""
    from weather_bigquery_lakehouse_spark.operators import incremental as inc

    a = spark.createDataFrame([("x", 1.0)], "k string, v double")
    b = spark.createDataFrame([("x", 2.0)], "k string, v double")
    merged = inc.merge_rollup_state(
        inc.rollup_state(a, ["k"], "v"), inc.rollup_state(b, ["k"], "v"), ["k"]
    )
    plan = _plan(merged, "simple")
    assert "Join" not in plan
    assert "Union" in plan


def test_unpivot_is_expand_no_shuffle_beyond_source(spark):
    """The melt must compile to Expand (per-row fan-out in the same
    stage) — pivot's inverse adds NO exchange of its own."""
    df = spark.createDataFrame(
        [(1, 2.0, 3.0)], "k long, a double, b double"
    )
    melted = df.unpivot(["k"], ["a", "b"], "metric", "value")
    plan = _plan(melted, "simple")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_plan_lint_bans_monotonically_increasing_id(spark):
    """The r9 lint rule: a partition-order-dependent synthetic id in any
    registry plan is a FAIL, same class as rand() — output must be a
    pure function of the data."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_lint import FAIL_PATTERNS

    from pyspark.sql import functions as F

    bad = spark.range(3).withColumn("id2", F.monotonically_increasing_id())
    plan = _plan(bad, "simple")
    hits = [p for p in FAIL_PATTERNS if p in plan]
    assert "monotonically_increasing_id" in hits


def test_capture_plans_masks_session_ids():
    """Captured plans mask the ids Spark numbers per session, so two
    captures of one plan compare byte-equal."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.capture_plans import mask_ids

    first = (
        "(3) Project [codegen id : 1]\n"
        "Output [2]: [vec_id#0L, __bucket#1289]\n"
        "Input [2]: [vec_id#0L, embedding#1]\n"
        "(4) Scan ExistingRDD\n"
        "Arguments: [x#12], MapPartitionsRDD[273] at applySchemaToPythonRDD, "
        "[plan_id=6409]\n"
    )
    second = (
        first.replace("#1289", "#2044").replace("#12]", "#37]")
        .replace("RDD[273]", "RDD[274]").replace("6409", "71")
    )
    assert first != second
    assert mask_ids(first) == mask_ids(second)
    assert "vec_id#<n>L" in mask_ids(first)
    assert "MapPartitionsRDD[<n>]" in mask_ids(first)


def test_incremental_lsh_persisted_base_never_reshingled(spark, sf_dir, tmp_path):
    """The warehouse contract of the dedup_incremental_lsh driver row:
    with base_signatures= passed (the entry lands + reads the parquet),
    the signature frame feeding the banded join must read base h{i}
    columns OFF THE PERSISTED SCAN and shingle ONLY increment rows —
    exactly one Generate/explode in the plan, sitting under the increment
    filter, plus a parquet scan of the signature table. This is the frame
    incremental_lsh_pairs checkpoints, i.e. the plan the driver row runs."""
    from pyspark.sql import functions as F

    from weather_bigquery_lakehouse_spark.operators.curation import md5_bucket
    from weather_bigquery_lakehouse_spark.operators.dedup import (
        _assemble_incremental_signatures,
        minhash_signatures,
    )

    docs = load_testdata(spark, sf_dir, ["documents"])["documents"]
    is_new = md5_bucket("doc_id", salt="incr|") >= 80
    sig_path = str(tmp_path / "base_minhash_signatures")
    minhash_signatures(docs.where(~is_new)).write.parquet(sig_path)
    base_sigs = spark.read.parquet(sig_path)

    flags = docs.select(F.col("doc_id"), is_new.cast("int").alias("__new"))
    sig, sh = _assemble_incremental_signatures(
        docs, is_new, flags, "text", "doc_id", 16, 3, base_sigs
    )
    assert sh is None  # no corpus-wide shingle checkpoint exists at all
    # formatted mode keeps full scan locations; simple truncates them
    assert "base_minhash_signatures" in _plan(sig, "formatted"), (
        "persisted scan missing"
    )
    plan = _plan(sig, "simple")
    # ONE explode total: the increment's shingles; base contributes none
    n_explode = sum(
        1 for line in plan.splitlines() if "Generate explode" in line
    )
    assert n_explode == 1, plan
    # and the one shingle source is increment-filtered (md5 bucket pred)
    gen_idx = next(
        i for i, l in enumerate(plan.splitlines()) if "Generate explode" in l
    )
    below = "\n".join(plan.splitlines()[gen_idx:])
    assert "Filter" in below and "md5" in below, below


def test_expectation_report_rides_two_scans_total(spark, sf_dir):
    """The r10 rotation put quality_expectations_orders in the driver
    window; its contract is 'every row-predicate rule rides ONE
    combinable corpus scan' + 'uniqueness adds the one shuffle it
    genuinely needs'. That is exactly TWO FileScans total regardless of
    rule count — the pre-fix shape planned one scan PER UNION BRANCH
    (4 rules + uniqueness = 5 corpus scans, 4x read amplification at
    100 TB)."""
    plan = _plan(QUERIES["quality_expectations_orders"].fn(spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 2, plan
    # the rules scan is single-pass map-side combinable: its aggregate
    # exchanges a SinglePartition 1-row frame, never the corpus
    assert "Exchange SinglePartition" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # uniqueness only
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_no_join_between_retriever_lists(spark, sf_dir):
    """RRF fusion must be a unionByName of the two bounded retriever
    lists + ONE combinable (query, doc) sum — never a join between
    retriever outputs (a join would re-shuffle both lists and break on
    docs present in only one list); final top-k windows must push their
    group limit map-side."""
    plan = _plan(QUERIES["hybrid_rrf_topk"].fn(spark, sf_dir), "simple")
    assert "Union" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2, "top-k not pushed map-side"


def test_embedding_covariance_one_pass_cached_stats(spark, sf_dir):
    """The covariance entry makes ONE corpus pass: the Arrow Gram kernel
    emits gram + column sums + count together, and the dim^2-bounded
    stats frame is cache()d so its g/s/n slices read
    InMemoryTableScan instead of re-planning the corpus scan (the
    pre-r10 shape re-derived sums from a posexplode aggregate referenced
    twice — 3 corpus scans). Every slice of the cached frame must be an
    InMemoryTableScan; the sum tables attach via broadcast; no
    sort-merge join anywhere."""
    plan = _plan(QUERIES["embedding_covariance"].fn(spark, sf_dir), "simple")
    # exactly one InMemoryTableScan per slice (g, s_i, s_j, n) — every
    # consumer reads the cache; any slice re-planning the corpus scan
    # outside the cache would drop a slice from this count. (Textual
    # FileScan occurrences vary with cache-materialization state — each
    # InMemoryTableScan re-prints the cached subtree — so they are not a
    # stable pin; the kernel must still be visible somewhere.)
    assert plan.count("InMemoryTableScan") == 4, plan
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_window_is_partition_keyed(spark, sf_dir):
    """The bin-packing running total must be a PARTITION-KEYED window
    (per source partition) — a global unpartitioned window would pull
    the whole file inventory through one task at scale."""
    plan = _plan(QUERIES["compaction_plan_documents"].fn(spark, sf_dir), "simple")
    windows = [l for l in plan.splitlines() if "Window " in l or l.strip().startswith("Window")]
    assert windows, plan
    # every Window line carries a partition spec over the source key
    for l in windows:
        assert "source" in l, l
    assert "CartesianProduct" not in plan


def test_embedding_covariance_cache_is_only_cache_user():
    """Every .cache()/persist() in the package must live in the
    covariance stats path, where _COV_STATS_CACHE registration +
    purge_covariance_cache() manage its lifetime — a cache user anywhere
    else would leak CacheManager entries with no purge discipline (pin
    by file, not line number, so unrelated edits don't churn it)."""
    import ast
    import pathlib

    import weather_bigquery_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    hits = set()
    for py in sorted(root.rglob("*.py")):
        # real AST, not line scraping (ADVICE r10): a '#' inside a string
        # literal or a literal ".cache()" in a docstring must not
        # truncate or falsely flag — match actual attribute CALLS named
        # cache/persist
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cache", "persist")
            ):
                hits.add(str(py.relative_to(root)))
    assert sorted(hits) == ["operators/embeddings.py"], sorted(hits)


def test_image_jpeg_roundtrip_single_branch(spark, sf_dir):
    """The JPEG round-trip entry reads events ONCE and runs one synth →
    encode → decode kernel chain — no union-branch re-plan duplicating
    the grid synth (the class ADVICE r10 flagged on the pre-fix PNG
    entry); no joins or cartesian products anywhere."""
    plan = _plan(QUERIES["image_jpeg_roundtrip_events"].fn(spark, sf_dir), "simple")
    assert plan.count("FlatMapGroupsInPandas") <= 2, plan  # one synth stage
    assert plan.count("MapInPandas") <= 2, plan  # one decode stage
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
