"""Deterministic sampled k-means — trained quantizers for the ANN family.

The PQ codebooks and IVF centroids in :mod:`.similarity` default to a
"first-n vectors" stand-in: deterministic and oracle-checkable, but a
quantizer built from arbitrary prefix vectors gives arbitrary recall
(round-7 verdict #2). This module trains REAL centroids with Lloyd's
k-means while keeping every property the stand-in had:

- **Deterministic, content-addressed** — no ``rand()`` anywhere. The
  initial codewords are the first ``n_codes`` vectors in md5-of-id order
  (a uniform pseudo-shuffle both engines compute identically), the
  optional training sample is the first ``sample_n`` vectors in the SAME
  order, and every arithmetic step is exact integer math, so the trained
  codebook is a pure function of the data — bit-identical across runs,
  partition layouts, and engines (the DuckDB oracle unrolls the same
  iterations).
- **Exact integer arithmetic end-to-end** (the ``pq_topk`` parity trick
  applied to training): vectors are quantized ONCE to integer micro-units
  (``round(x·1e6)`` as bigint); assignment distances are bigint sums of
  squared component deltas (order-independent, no floating tie-break —
  ties break on the smaller code id); the update step's component means
  are exact bigint sums divided with half-away-from-zero rounding back to
  micro-units. Overflow bound: a squared delta is ``(2·1e6·max|x|)²`` and
  a fold adds ``width`` of them, so ``width·4e12·max|x|² < 2⁶³`` holds for
  ``max|x| ≤ 150`` at width 64 — embedding corpora are unit-scale, and the
  quantizer is for embeddings.
- **Bounded iterations, truncated lineage** — Lloyd's loop runs a FIXED
  ``n_iter`` driver-side iterations (the connected-components
  convergence-fold pattern: each iteration ``localCheckpoint``s the tiny
  codebook frame, so lineage never compounds). No data-dependent early
  stop: convergence tests would add a per-iteration job and break the
  unrolled SQL twin; 4 Lloyd iterations capture most of the quantization
  gain at these code counts.

Scale shape (100 TB): the ONLY per-iteration work over the corpus is one
broadcast join against the ≤ ``groups·n_codes``-row codebook reduced by
two map-side-combinable aggregates (argmin per vector, component sums per
codeword) — shuffle traffic is ``groups·n_codes·width`` rows per
iteration regardless of corpus size. The md5-order init/sample selection
has two window-free-at-scale physical shapes: the many-group (PQ) path
compiles its rank ≤ k filter to ``WindowGroupLimit`` (map-side partial
limit, pinned in tests), and the single-group (IVF) path — where a
constant partition key would fold into an unpartitioned single-reducer
WindowExec — uses ``orderBy().limit()`` (each task forwards its local
top-k) plus a triangular broadcast rank over the ≤ ``n_codes`` init rows
only. In production you train on ``sample_n`` vectors (bounded work per
iteration) and the full corpus only ever pays the one encode pass it
already paid with the stand-in.

Reference parity: the reference repo has no ANN training — this is
engine-extension surface (SURVEY.md §2.5); the algorithm is public
knowledge (Lloyd 1982; Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — subspace codebooks trained independently).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .artifacts import memoized

MICRO = 1_000_000  # micro-unit quantization scale (matches pq_topk's ADC)

#: widest distance-kernel unroll that measured FASTER than the
#: interpreted fold (see _micro_l2sq); wider chains regress on
#: optimizer/codegen constants.
_UNROLL_MAX_WIDTH = 16


def _to_micro(vec: Column) -> Column:
    """array<float|double> → array<bigint> in micro-units (half-away
    rounding — the same ``round(x·1e6)`` both engines apply in the ADC)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.round(x * MICRO).cast("bigint"),
    )


def _micro_l2sq(a: Column, b: Column, width: int | None = None) -> Column:
    """Exact squared L2 between micro-int arrays — a bigint fold, so the
    sum is order-independent and tie-breaks need no epsilon. With
    ``width`` (the statically known component count) the fold is UNROLLED
    into a flat codegen-compiled add chain — higher-order functions are
    interpreted expression-by-expression, and this is the per-(vector,
    codeword) hot kernel of every Lloyd assignment; the bigint sum is
    identical either way. Unrolling is capped at ``_UNROLL_MAX_WIDTH``:
    the round-13 A/B measured width-8 unrolls faster (PQ codebook 0.82×)
    but width-64 chains SLOWER (2.2×) — huge flat expression trees blow
    up optimizer/codegen constants faster than they save interpreted
    element evals (negative result, OPTIMIZATION_r13.md)."""
    if width is not None and width <= _UNROLL_MAX_WIDTH:
        s: Column = F.lit(0).cast("bigint")
        for i in range(1, width + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            s = s + d * d
        return s
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


# Half-away-from-zero mean: sign(s) · ((2·|s| + n) div (2·n)), computed with
# Spark's integral `div` (exact bigint division — a floor of the DOUBLE
# quotient would silently misround once 2·|s|+n exceeds 2^53, which a
# 10-billion-member cluster of unit-scale micro components reaches). The
# sign split keeps both operands nonnegative so floor and truncate agree
# and DuckDB's `//` computes the identical value.
_HALF_AWAY_MEAN = (
    "CAST(CASE WHEN __s >= 0 THEN (2 * __s + __n) DIV (2 * __n) "
    "ELSE -((2 * -__s + __n) DIV (2 * __n)) END AS BIGINT)"
)


def _assign_codes(
    train: DataFrame, cb: DataFrame, width: int | None = None
) -> DataFrame:
    """One Lloyd assignment step: broadcast the ≤ groups·n_codes codebook,
    take the exact-integer-distance argmin per (group, id) with a
    map-side-combinable struct-min (lexicographic: smallest distance,
    then smallest code id) — never a window, never a shuffled join."""
    return (
        train.join(F.broadcast(cb), "__g")
        .select(
            "__g",
            "__id",
            "__v",
            F.struct(
                _micro_l2sq(F.col("__v"), F.col("__c"), width).alias("d"),
                F.col("__code").alias("code"),
            ).alias("__cand"),
        )
        .groupBy("__g", "__id")
        .agg(
            F.min("__cand").getField("code").alias("__code"),
            F.first("__v").alias("__v"),
        )
    )


def _select_grouped(quant: DataFrame, n_codes: int, sample_n: int | None):
    """(init codebook, train set) for the many-group case: md5-of-id rank
    per group. The rank ≤ k filter sits directly on the row_number window,
    so Spark 4 inserts WindowGroupLimit — each task forwards at most k
    rows per group before the shuffle, never a global per-group sort."""
    w = Window.partitionBy("__g").orderBy(
        F.md5(F.col("__id").cast("string")).asc(), F.col("__id").asc()
    )
    ranked = (
        quant.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") <= sample_n)
        .localCheckpoint(eager=True)
        if sample_n is not None
        else quant.withColumn("__rnk", F.row_number().over(w))
    )
    cb = ranked.where(F.col("__rnk") <= n_codes).select(
        "__g",
        (F.col("__rnk") - 1).cast("int").alias("__code"),
        F.col("__v").alias("__c"),
    )
    return cb, ranked.select("__g", "__id", "__v")


def _select_single_group(quant: DataFrame, n_codes: int, sample_n: int | None):
    """(init codebook, train set) for the single-group case (IVF). A
    window partitioned by the constant group key would constant-fold to
    an UNPARTITIONED WindowExec — a single-reducer sort over the corpus
    plus the "No Partition Defined" warning in every run's stderr. Use
    the warning-free distributed primitives instead: ``orderBy().limit()``
    (TakeOrderedAndProject / global-sort-limit — every task forwards its
    local top-k) for sample and init membership, then rank ONLY the
    ≤ n_codes init rows with a triangular broadcast self-join (count of
    strictly-smaller keys — the skew_key_report / quantile-core pattern)."""
    keyed = quant.select(
        "__g", "__id", "__v", F.md5(F.col("__id").cast("string")).alias("__k")
    )
    pool = (
        keyed.orderBy("__k", "__id").limit(sample_n).localCheckpoint(eager=True)
        if sample_n is not None
        else keyed
    )
    init = pool.orderBy("__k", "__id").limit(n_codes).localCheckpoint(eager=True)
    a, b = init.alias("a"), init.alias("b")
    smaller = (F.col("b.__k") < F.col("a.__k")) | (
        (F.col("b.__k") == F.col("a.__k")) & (F.col("b.__id") < F.col("a.__id"))
    )
    cb = (
        a.join(F.broadcast(b), smaller, "left")
        .groupBy(F.col("a.__id"))
        .agg(
            F.first(F.col("a.__g")).alias("__g"),
            F.count(F.col("b.__id")).cast("int").alias("__code"),
            F.first(F.col("a.__v")).alias("__c"),
        )
        .select("__g", "__code", "__c")
    )
    return cb, pool.select("__g", "__id", "__v")


def train_grouped_codebook(
    subvectors: DataFrame,
    n_codes: int,
    n_iter: int = 4,
    group_col: str = "sub_id",
    id_col: str = "vec_id",
    vec_col: str = "__sv",
    sample_n: int | None = None,
    code_col: str = "code_id",
    out_vec_col: str = "__cv",
    single_group: bool = False,
    width: int | None = None,
) -> DataFrame:
    """Train one k-means codebook PER GROUP over (group, id, vector) rows
    — all groups in the same Spark jobs (PQ trains its ``m`` subspace
    codebooks simultaneously; IVF is the single-group special case, which
    must pass ``single_group=True`` to get the window-free selection —
    see :func:`_select_single_group`).

    Returns ``(group_col, code_col, out_vec_col array<double>)`` with
    codeword components on the micro-unit grid (``k/1e6``) — the exact
    value both engines reconstruct. Codewords that lose every member in
    an iteration keep their previous position (standard empty-cluster
    handling, deterministic). The returned frame is localCheckpointed
    (≤ groups·n_codes rows): reuse it across queries without retraining.

    ``width`` (the statically known component count of ``vec_col``)
    switches the update step to its round-13 shape: per-component sums
    become ``width`` UNROLLED codegen sum columns in the SAME aggregate
    that counts members — no posexplode (which multiplied the assignment
    stream ×width before its shuffle), no second per-(group, code)
    aggregate, no map_from_entries reassembly — and the assignment
    distance kernel unrolls too (see :func:`_micro_l2sq`). One exchange
    per Lloyd iteration instead of two, with identical integer results;
    ``None`` keeps the dynamic-width fold/explode path. Both unrolls are
    capped at ``_UNROLL_MAX_WIDTH`` (round 14, ADVICE r13): above it the
    update falls back to the explode path — the width-64 unrolled
    aggregate measured ~1.4× SLOWER in the r13 A/B (plan/codegen
    constants), and the cap keeps a wide caller out of that regime.
    """
    if n_codes < 1 or n_iter < 0:
        raise ValueError(f"need n_codes >= 1, n_iter >= 0; got {n_codes}, {n_iter}")
    if sample_n is not None and sample_n < n_codes:
        raise ValueError(
            f"sample_n {sample_n} < n_codes {n_codes}: the init codewords "
            "are the first n_codes sample rows, so the sample must cover them"
        )
    quant = subvectors.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        _to_micro(F.col(vec_col)).alias("__v"),
    )
    # md5-of-id order: a content-addressed pseudo-shuffle shared by init
    # and sample so both are uniform draws computed identically by the
    # DuckDB oracle's ROW_NUMBER twin
    select = _select_single_group if single_group else _select_grouped
    cb, train = select(quant, n_codes, sample_n)
    cb = cb.localCheckpoint(eager=True)
    # one validation job, not two (count + distinct-count share one agg)
    vrow = cb.agg(
        F.count(F.lit(1)).alias("n_cb"), F.countDistinct("__g").alias("n_groups")
    ).first()
    n_cb, n_groups = int(vrow["n_cb"]), int(vrow["n_groups"])
    if n_groups == 0 or n_cb != n_groups * n_codes:
        raise ValueError(
            f"codebook incomplete: {n_cb} codewords over {n_groups} groups "
            f"(need {n_codes} per group) — each group must hold at least "
            f"n_codes vectors"
        )
    # Round 14 (ADVICE r13): the update-step unroll honors the SAME
    # _UNROLL_MAX_WIDTH cap as the distance kernel — the r13 A/B measured
    # a width-64 unrolled update aggregate ~1.4× SLOWER than the explode
    # path (plan/codegen constants), so a wide ``width`` now falls back
    # instead of silently re-entering the measured-regression regime.
    # Results are identical on both paths (bigint sums in any order).
    unroll_width = (
        width if width is not None and width <= _UNROLL_MAX_WIDTH else None
    )
    for _ in range(n_iter):
        assigned = _assign_codes(train, cb, width)
        if unroll_width is not None:
            # unrolled update: the member count and all `width` component
            # sums ride ONE map-side-combinable aggregate; the mean array
            # is assembled from the sum columns in a plain projection
            sums = assigned.groupBy("__g", "__code").agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("__v", j + 1)).alias(f"__s{j}")
                    for j in range(unroll_width)
                ],
            )
            updated = sums.select(
                "__g",
                "__code",
                F.array(
                    *[
                        F.expr(_HALF_AWAY_MEAN.replace("__s", f"__s{j}"))
                        for j in range(unroll_width)
                    ]
                ).alias("__cnew"),
            )
        else:
            comp = assigned.select(
                "__g", "__code", F.posexplode("__v").alias("__j", "__x")
            )
            sums = comp.groupBy("__g", "__code", "__j").agg(
                F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__n")
            )
            mean = sums.select(
                "__g", "__code", "__j", F.expr(_HALF_AWAY_MEAN).alias("__mx")
            )
            updated = (
                mean.groupBy("__g", "__code")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("__j", "__mx"))
                    ).alias("__m"),
                    F.max("__j").alias("__maxj"),
                )
                .select(
                    "__g",
                    "__code",
                    F.transform(
                        F.sequence(F.lit(0), F.col("__maxj")),
                        lambda j: F.element_at("__m", j.cast("int")),
                    ).alias("__cnew"),
                )
            )
        # empty codeword → keep its previous position
        cb = (
            cb.join(updated, ["__g", "__code"], "left")
            .select(
                "__g",
                "__code",
                F.coalesce("__cnew", "__c").alias("__c"),
            )
            .localCheckpoint(eager=True)
        )
    return cb.select(
        F.col("__g").alias(group_col),
        F.col("__code").alias(code_col),
        F.transform(
            F.col("__c"), lambda k: k.cast("double") / F.lit(float(MICRO))
        ).alias(out_vec_col),
    )


@memoized("embeddings")
def kmeans_pq_codebook(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 4,
    sample_n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: object = None,
) -> DataFrame:
    """Trained PQ codebook ``(sub_id, code_id, __cv)`` — drop-in for the
    first-n stand-in via ``pq_topk(..., codebook=)`` / ``ivfpq_topk``.
    All ``m`` subspace codebooks train in the same jobs (grouped k-means
    on the posexploded subvectors — Jégou et al. 2011 trains subspaces
    independently, which grouping by ``sub_id`` expresses exactly).
    Pass ``cache_key`` (the caller-owned input identity, e.g. the dataset
    path) to share the trained frame with sibling queries of the same
    session (:mod:`.artifacts`): a registry sweep that greets the same
    corpus from several entries (the staged codebook/centroid gates and
    the recall report) trains ONCE — results are deterministic either
    way, only wall-clock changes."""
    from .similarity import _pq_sub, _subspaces

    sub = _pq_sub(dim, m)
    subs = _subspaces(embeddings, "__kid", m, sub, id_col, vec_col)
    return train_grouped_codebook(
        subs,
        n_codes=n_codes,
        n_iter=n_iter,
        group_col="sub_id",
        id_col="__kid",
        vec_col="__sv",
        sample_n=sample_n,
        width=sub,
    )


@memoized("embeddings")
def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iter: int = 4,
    sample_n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: object = None,
    dim: int | None = None,
) -> DataFrame:
    """Trained IVF centroids ``(cell_id, centroid)`` — the single-group
    k-means (L2 objective; ``assign_cells`` still routes by cosine at
    query time, the usual pairing for roughly-normalized embeddings).
    Drop-in for the first-``n_cells`` stand-in via
    ``ivf_topk(..., centroids=)`` / ``ivfpq_topk(..., centroids=)``.
    ``cache_key`` memoizes like :func:`kmeans_pq_codebook`. ``dim`` (the
    statically known vector width) enables the unrolled one-exchange
    Lloyd update — see :func:`train_grouped_codebook`."""
    single = embeddings.select(
        F.lit(0).alias("__grp"), F.col(id_col), F.col(vec_col)
    )
    cb = train_grouped_codebook(
        single,
        n_codes=n_cells,
        n_iter=n_iter,
        group_col="__grp",
        id_col=id_col,
        vec_col=vec_col,
        sample_n=sample_n,
        code_col="cell_id",
        out_vec_col="centroid",
        single_group=True,
        width=dim,
    )
    return cb.select("cell_id", "centroid")
