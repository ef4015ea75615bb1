"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exact baseline: probes × corpus dot
products, all JVM-side array math (`zip_with` + `aggregate` fold), probes
broadcast. At 100 TB the scale path is `lsh_bucketed_topk`: random-
hyperplane LSH assigns each vector to a bucket key; probe and corpus
co-partition on bucket, so the join shuffles each corpus vector once to
one bucket instead of cross-joining everything — approximate (recall
depends on bucket bits / multi-probe), which is the standard trade.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .artifacts import memoized

SIM_DECIMALS = 6  # round similarities before ranking → engine-portable order


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic,
    matches a left-to-right list_sum in any engine)."""
    prods = F.zip_with(
        a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def feature_hash_embed(tokens: Column, dim: int) -> Column:
    """Deterministic feature-hashing embedding (`array<double>` of length
    ``dim``): component j counts the tokens whose md5 bucket is j — the
    classic hashing-trick bag-of-words.

    This is the engine's embed STUB: real encoders run outside the engine
    and land vectors in a column; pipelines that need an in-engine,
    oracle-checkable vectorization (tests, the composed RAG query) use
    this. Content-addressed (md5 of the token), so the same text maps to
    the same vector in every engine/run/partition layout — and a DuckDB
    twin can recompute it exactly. Pure per-row array math, JVM-side,
    no shuffle; cost is O(dim · n_tokens) comparisons but only
    O(n_tokens) md5 evaluations (buckets are computed once)."""
    buckets = F.transform(
        tokens,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
        % F.lit(dim),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.size(F.filter(buckets, lambda b: b == j.cast("bigint"))).cast(
            "double"
        ),
    )


def feature_hash_embed_frame(
    df: DataFrame,
    tokens: Column,
    dim: int,
    id_col: str = "vec_id",
    out_col: str = "embedding",
) -> DataFrame:
    """Frame-level twin of :func:`feature_hash_embed` — identical vectors,
    different physical shape for corpus scale.

    The expression form runs inside higher-order-function lambdas, which
    Spark evaluates INTERPRETED (HOFs are codegen fallbacks) — fine for a
    handful of rows, ~ms/row on a corpus. This form explodes the token
    stream so md5/conv compile into whole-stage codegen, counts buckets
    with a map-side-combinable aggregate (shuffle carries ≤ ``dim`` rows
    per id), and reassembles the dense count vector from a bucket→count
    map. One shuffle on the id, everything hot is compiled."""
    # explode_OUTER: an empty/null token array keeps one null-token row,
    # so its id reaches the aggregate and emits a zero vector exactly like
    # the expression form — without a second scan of the input to recover
    # dropped ids (a join back would re-run the whole upstream lineage).
    tok = df.select(F.col(id_col), F.explode_outer(tokens).alias("__t"))
    b = tok.select(
        F.col(id_col),
        F.when(
            F.col("__t").isNotNull(),
            (F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10).cast("bigint") % dim)
            .cast("int"),
        ).alias("__b"),
    )
    counts = b.groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__n"))
    # collect_list skips NULLs → the null-bucket sentinel contributes no
    # map entry; map_from_entries([]) is {} and reads back as all-zero
    assembled = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("__b").isNotNull(), F.struct("__b", "__n"))
            )
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.coalesce(
            F.element_at("__m", j.cast("int")).cast("double"), F.lit(0.0)
        ),
    )
    return assembled.select(F.col(id_col), dense.alias(out_col))


def cosine_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    probes: (id_col, vec_col) — small; broadcast into a cross join against
    the corpus. Similarities are rounded to ``SIM_DECIMALS`` before the
    window rank, with the neighbor id as tie-break, so result order is a
    pure function of the data. Self-matches excluded."""
    # Norms are projected ONCE per row before the join — Catalyst does not
    # CSE the aggregate-fold across join pairs, so inlining _norm in the
    # scoring expression would recompute each corpus norm per probe (and
    # each probe norm per corpus row). Same arithmetic tree, |c| + |q|
    # norm folds instead of 2·|c|·|q|.
    q = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__c"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    sim = F.round(
        _dot(F.col("__q"), F.col("__c")) / (F.col("__qn") * F.col("__cn")),
        SIM_DECIMALS,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cell_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    by cosine similarity (tie → smaller cell id). The centroid set is tiny
    (IVF uses √n cells), so the assignment is a broadcast join followed by
    ONE map-side-combinable aggregate per vector — no window sort, and the
    shuffle carries one row per (vector, centroid) pair reduced to one row
    per vector by the partial aggregation.

    Output carries ``__norm`` (the vector's L2 norm) so downstream scoring
    reuses it instead of re-folding the array — norms are projected once
    per row here, not once per (vector, centroid) pair."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("__norm")
    )
    cent = centroids.select(
        F.col(centroid_id_col),
        F.col(centroid_vec_col),
        _norm(F.col(centroid_vec_col)).alias("__cnorm"),
    )
    sim = F.round(
        _dot(F.col(vec_col), F.col(centroid_vec_col))
        / (F.col("__norm") * F.col("__cnorm")),
        SIM_DECIMALS,
    )
    scored = v.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__norm"),
        F.struct((-sim).alias("neg_sim"), F.col(centroid_id_col).alias("cid")).alias(
            "__cand"
        ),
    )
    # lexicographic struct MIN = highest similarity, then smallest cell id
    return scored.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col),
        F.first("__norm").alias("__norm"),
        F.min("__cand").getField("cid").alias("cell_id"),
    )


def ivf_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    n_cells: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_cells: int = 1,
    centroids: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: corpus and probes are coarse-quantized to
    ``n_cells`` centroid cells; each probe scores only its own cell's
    inverted list. The cell join is a plain equi-join — work scales with
    cell occupancy (~n/n_cells), not corpus × probes.

    ``n_probe_cells`` is the standard IVF recall lever: each probe
    searches its P nearest cells instead of 1, recovering neighbors that
    the coarse quantizer put just across a cell boundary. Join width
    grows linearly in P; the CORPUS side still lives in exactly one cell
    (its assignment stays the map-side-combined argmax — a window runs
    only over the tiny probes×centroids frame).

    Default centroids are the first ``n_cells`` corpus vectors — a
    deterministic, oracle-checkable stand-in for an offline k-means
    training step. Pass ``centroids`` (a ``(cell_id, centroid)`` frame,
    e.g. :func:`..kmeans.kmeans_centroids`'s trained output) to index
    with real cluster centers; everything downstream is unchanged.

    ``corpus_cells`` optionally supplies a PRECOMPUTED corpus coarse
    assignment — :func:`assign_cells` over exactly this
    (``embeddings``, ``centroids``) pair with ``id_col='neighbor_id'``,
    usually checkpointed so several scorers share one assignment pass
    (the caller asserts that equivalence; results are identical by
    construction since the frame IS the same intermediate). The probe
    side is always assigned inline — it is probe-bounded."""
    if centroids is None:
        centroids = embeddings.where(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
        )
    else:
        centroids = _validated_centroids(centroids)
    if corpus_cells is None:
        corpus_cells = assign_cells(
            embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            centroids,
            id_col="neighbor_id",
        )
    c = corpus_cells.withColumnRenamed(vec_col, "__c").withColumnRenamed(
        "__norm", "__cn"
    )
    if n_probe_cells <= 1:
        q = (
            assign_cells(
                probes.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
                centroids,
                id_col="query_id",
            )
            .withColumnRenamed(vec_col, "__q")
            .withColumnRenamed("__norm", "__qn")
        )
    else:
        qsim = F.round(
            _dot(F.col(vec_col), F.col("centroid"))
            / (F.col("__qn") * F.col("__cenn")),
            SIM_DECIMALS,
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("__qsim").desc(), F.col("cell_id").asc()
        )
        q = (
            probes.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col),
                _norm(F.col(vec_col)).alias("__qn"),
            )
            .crossJoin(
                F.broadcast(
                    centroids.withColumn("__cenn", _norm(F.col("centroid")))
                )
            )
            .select("query_id", F.col(vec_col).alias("__q"), "__qn", "cell_id",
                    qsim.alias("__qsim"))
            .withColumn("__cr", F.row_number().over(wq))
            .where(F.col("__cr") <= n_probe_cells)
            .select("query_id", "__q", "__qn", "cell_id")
        )
    sim = F.round(
        _dot(F.col("__q"), F.col("__c")) / (F.col("__qn") * F.col("__cn")),
        SIM_DECIMALS,
    )
    scored = (
        c.join(F.broadcast(q), "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup flavor of
    similarity search): vectors are hyperplane-LSH-bucketed, candidates are
    the within-bucket self-join (id_a < id_b), and pairs scoring
    cosine ≥ ``threshold`` survive. Same shuffle shape as MinHash-LSH
    dedup — work ∝ bucket occupancy, never all-pairs. High-cosine pairs
    agree on most hyperplane signs, so they co-bucket with high
    probability; recall follows the LSH trade documented on
    ``lsh_bucketed_topk``."""
    v = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    a = v.select(
        F.col(id_col).alias("vec_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__bucket",
    )
    b = v.select(
        F.col(id_col).alias("vec_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__bucket",
    )
    cos = F.round(
        _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        SIM_DECIMALS,
    )
    return (
        a.join(b, "__bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit b = sign(vec · plane_b).
    ``planes`` are fixed (seeded) constants, so the expression is pure and
    the bucket assignment reproducible across runs/engines."""
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec.cast("array<double>"),
                F.array(*[F.lit(x) for x in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(2**b)).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the probe's
    hyperplane bucket, then exact scoring within the bucket. The join is a
    plain equi-join on the bucket id — shuffle partitions by bucket, so
    work scales with bucket occupancy, not corpus size × probes.

    ``n_probes`` is the multi-probe recall lever: each query additionally
    probes its Hamming-1 neighbor buckets (flipping bits 0, 1, … in order),
    ``n_probes`` buckets in total. A near neighbor that landed on the other
    side of ONE hyperplane is then still found; join width grows linearly
    with n_probes while recall climbs toward exact. The probed bucket ids
    are distinct, and every corpus vector lives in exactly one bucket, so
    no candidate is scored twice."""
    base = hyperplane_bucket(F.col(vec_col), planes)
    probe_buckets = [base] + [
        base.bitwiseXOR(F.lit(2**bit))
        for bit in range(min(max(0, n_probes - 1), len(planes)))
    ]
    q = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        _norm(F.col(vec_col)).alias("__qn"),
        F.explode(F.array(*probe_buckets)).alias("__bucket"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__c"),
        _norm(F.col(vec_col)).alias("__cn"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    sim = F.round(
        _dot(F.col("__q"), F.col("__c")) / (F.col("__qn") * F.col("__cn")),
        SIM_DECIMALS,
    )
    scored = (
        c.join(F.broadcast(q), "__bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# --------------------------------------------------------------------------
# Product quantization (ADC) — the memory-bound ANN scale path
# --------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance in double precision (same
    left-to-right order as the oracle's list_sum, like ``_dot``)."""
    diffs = F.zip_with(
        a.cast("array<double>"), b.cast("array<double>"), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _subspaces(
    df: DataFrame, id_alias: str, m: int, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub_id, subvector) rows: each vector split into ``m``
    contiguous ``sub``-wide slices — one posexplode, no shuffle."""
    arr = F.array(*[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)])
    return df.select(
        F.col(id_col).alias(id_alias), F.posexplode(arr).alias("sub_id", "__sv")
    )


def _pq_sub(dim: int, m: int) -> int:
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


def _pq_codebook(
    df: DataFrame, m: int, sub: int, n_codes: int, id_col: str, vec_col: str
) -> DataFrame:
    """Broadcast-ready PQ codebook: (sub_id, code_id, __cv) from the first
    ``n_codes`` corpus vectors — the deterministic oracle-checkable
    stand-in for offline k-means shared by :func:`pq_topk` and
    :func:`ivfpq_topk`. The id-prefix heuristic silently degrades with
    sparse or non-zero-based ids (an empty codebook nulls the whole
    output) — fail loudly instead; the count is one job over ≤ m·n_codes
    rows."""
    cb_frame = _subspaces(
        df.where(F.col(id_col) < n_codes), "code_id", m, sub, id_col, vec_col
    ).select("sub_id", "code_id", F.col("__sv").alias("__cv"))
    n_cb = cb_frame.count()
    if n_cb != m * n_codes:
        raise ValueError(
            f"codebook incomplete: found {n_cb // m if m else 0} of "
            f"{n_codes} codewords ({n_cb}/{m * n_codes} subvectors) — ids "
            f"0..{n_codes - 1} must all exist in {id_col!r}; remap ids or "
            f"lower n_codes"
        )
    return F.broadcast(cb_frame)


def _validated_codebook(codebook: DataFrame, m: int) -> DataFrame:
    """Broadcast a SUPPLIED codebook after the completeness check the
    stand-in path (:func:`_pq_codebook`) enforces: a frame missing a
    ``sub_id`` group corrupts SILENTLY — the encode/ADC inner join drops
    that subspace for every vector, so distances sum over m−1 subspaces
    and rankings are wrong with no error. Fail loudly instead; the probe
    is one job over the ≤ m·n_codes-row (usually checkpointed) frame."""
    cb = codebook.select("sub_id", "code_id", "__cv")
    present = {
        r["sub_id"]
        for r in cb.select("sub_id").distinct().collect()
    }
    missing = sorted(set(range(m)) - present)
    if missing or not present:
        raise ValueError(
            f"codebook incomplete: sub_id group(s) {missing or 'ALL'} absent "
            f"(need 0..{m - 1}) — ADC would silently score over the "
            "remaining subspaces; check the codebook's m or its filter"
        )
    return F.broadcast(cb)


@dataclass(frozen=True)
class ValidatedCodebook:
    """A broadcast codebook frame whose completeness check already ran for
    ``m`` subspaces. The PQ scorers take it as ``codebook`` and, when
    their own ``m`` matches, skip the check, so several scorers share ONE
    validation job instead of each re-running the same distinct-``sub_id``
    probe (the recall report consumes one codebook from five scorers). A
    scorer with another ``m`` re-validates ``frame`` and raises."""

    frame: DataFrame
    m: int


def pq_codebook_standin(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> ValidatedCodebook:
    """Public builder for the deterministic stand-in PQ codebook (the
    first-``n_codes``-vectors convention shared by :func:`pq_topk` /
    :func:`ivfpq_topk` / :func:`pq_distortion`), returned as a
    :class:`ValidatedCodebook` (the builder's completeness count IS the
    check). Building it ONCE and passing the result as ``codebook`` lets
    several scorers share one completeness-check job instead of each
    re-counting the same ≤ m·n_codes-row frame."""
    return ValidatedCodebook(
        _pq_codebook(embeddings, m, _pq_sub(dim, m), n_codes, id_col, vec_col), m
    )


def validate_codebook(
    codebook: DataFrame | ValidatedCodebook, m: int
) -> ValidatedCodebook:
    """Public form of the supplied-codebook completeness check: validate
    ONCE (one small job) and reuse the returned value across every scorer
    that takes a ``codebook`` — instead of each consumer re-running the
    same distinct-``sub_id`` probe on the same frame."""
    return ValidatedCodebook(_as_codebook(codebook, m), m)


def _as_codebook(codebook: DataFrame | ValidatedCodebook, m: int) -> DataFrame:
    """Normalize the ``codebook`` argument the PQ scorers accept to a
    broadcast frame: a :class:`ValidatedCodebook` for this ``m`` passes
    through; one checked for another ``m``, and any bare DataFrame, is
    validated here (one small job), so a codebook checked for a smaller
    ``m`` raises instead of scoring over a subset of the subspaces."""
    if isinstance(codebook, ValidatedCodebook):
        if codebook.m == m:
            return codebook.frame
        codebook = codebook.frame
    return _validated_codebook(codebook, m)


def pq_encode_cells(
    corpus_cells: DataFrame,
    dim: int,
    m: int,
    codebook: DataFrame | ValidatedCodebook,
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shared PQ encode over a coarse-assigned corpus: ONE pass producing
    ``(id, cell_id, sub_id, code_id, __d)`` — per (vector, subspace) the
    argmin codeword (ties → smaller code id, exactly the scorers' rule)
    WITH its integer-micro distance and the vector's cell id riding along.

    This frame is a superset of every PQ consumer's encode intermediate,
    so computing it once (checkpointed) and feeding the ``codes`` /
    ``encoded`` parameters replaces one corpus×m×n_codes interpreted-HOF
    encode PER CONSUMER with a single shared one:

    - :func:`ivfpq_topk` ``codes``: project (id, cell_id, sub_id, code_id)
      — identical to its inline encode (same aggregate, same keys).
    - :func:`pq_topk` ``codes``: project (id, sub_id, code_id) — identical
      because cell_id is functionally dependent on the vector, so grouping
      by the extra key yields the same per-(vector, subspace) argmin.
    - :func:`pq_distortion` ``encoded``: project (id, sub_id, __d) — the
      struct-min's ``__d`` field IS min(__d) (lexicographic struct order
      compares ``__d`` first).

    ``corpus_cells`` is :func:`assign_cells` output (id, vec, __norm,
    cell_id); ``codebook`` as for :func:`pq_topk` (a
    :class:`ValidatedCodebook` for this ``m`` passes through). Scale shape
    matches the inline encodes: the codebook broadcasts, the argmin
    map-side combines on (vector, cell, subspace), and only (id, cell, m
    codes, m distances) rows survive."""
    sub = _pq_sub(dim, m)
    cb = _as_codebook(codebook, m)
    arr = F.array(*[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)])
    corp_sub = corpus_cells.select(
        F.col(id_col), "cell_id", F.posexplode(arr).alias("sub_id", "__sv")
    )
    dmicro = F.round(_l2sq(F.col("__sv"), F.col("__cv")) * 1e6).cast("bigint")
    return (
        corp_sub.join(cb, "sub_id")
        .select(id_col, "cell_id", "sub_id", "code_id", dmicro.alias("__d"))
        .groupBy(id_col, "cell_id", "sub_id")
        .agg(F.min(F.struct(F.col("__d"), F.col("code_id"))).alias("__best"))
        .select(
            id_col,
            "cell_id",
            "sub_id",
            F.col("__best.code_id").alias("code_id"),
            F.col("__best.__d").alias("__d"),
        )
    )


def _validated_centroids(centroids: DataFrame) -> DataFrame:
    """Normalize + guard a SUPPLIED centroid frame: an empty one yields a
    silently empty index (every cell assignment joins away) where the
    first-n stand-in would at least mirror the corpus — fail loudly."""
    cent = centroids.select("cell_id", "centroid")
    if not cent.take(1):
        raise ValueError(
            "centroids frame is empty — every cell assignment would join "
            "away; check the training input or its filter"
        )
    return cent


def pq_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | ValidatedCodebook | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k with asymmetric distance computation
    (ADC) — the MEMORY-bound scale path past IVF: the corpus's 4·dim-byte
    float vectors compress to ``m`` subspace code ids (m bytes at
    n_codes ≤ 256), and probe↔vector distance is approximated by summing,
    per subspace, the probe's precomputed distance to the vector's
    codeword. At 100 TB that is the difference between an index that fits
    executor memory and one that doesn't: after encoding, scoring never
    touches a vector again — only the m-byte code array moves.

    The default codebook is deterministic (the subvectors of the first
    ``n_codes`` corpus vectors — the same oracle-checkable stand-in for
    offline k-means as ``ivf_topk``'s centroids); pass ``codebook`` (a
    ``(sub_id, code_id, __cv)`` frame, e.g.
    :func:`..kmeans.kmeans_pq_codebook`'s trained output) to encode
    against real cluster centers — everything downstream is unchanged.

    Engine-parity design: per-subspace distances are quantized to integer
    MICRO-units (``round(l2² · 1e6)`` as BIGINT) BEFORE any aggregation,
    so the encode argmin and the ADC sum are exact integer operations —
    order-independent across partial aggregation, bit-identical in the
    oracle, and the final ranking needs no floating tie-break
    (``embedding_centroids``' parity trick applied to distances).

    Scale shape: the tiny codebook (m·n_codes rows) broadcasts twice
    (encode + probe distance tables); the corpus streams ONCE through the
    encode — corpus×m×n_codes interpreted HOF folds, map-side-combined
    argmin keyed on (vector, subspace); ADC joins the m-byte codes to the
    broadcast probe tables and reduces with one combinable integer sum
    per (probe, vector). No vector ever crosses a shuffle after encode.

    ``codebook`` may be a :class:`ValidatedCodebook` (see
    :func:`pq_codebook_standin` / :func:`validate_codebook`).
    ``codes`` optionally supplies a
    PRECOMPUTED corpus encode — ``(neighbor_id, sub_id, code_id)`` rows
    against exactly this (``embeddings``, ``codebook``) pair, e.g. a
    checkpointed :func:`pq_encode_cells` output — skipping the inline
    encode so several scorers share one pass; the caller asserts that
    equivalence (identical by construction: it is the same argmin).
    """
    sub = _pq_sub(dim, m)
    cb = (
        _as_codebook(codebook, m)
        if codebook is not None
        else _pq_codebook(embeddings, m, sub, n_codes, id_col, vec_col)
    )
    dmicro = F.round(_l2sq(F.col("__sv"), F.col("__cv")) * 1e6).cast("bigint")
    if codes is not None:
        corpus_codes = codes.select("neighbor_id", "sub_id", "code_id")
    else:
        corpus_codes = (
            _subspaces(embeddings, "neighbor_id", m, sub, id_col, vec_col)
            .join(cb, "sub_id")
            .select("neighbor_id", "sub_id", "code_id", dmicro.alias("__d"))
            .groupBy("neighbor_id", "sub_id")
            .agg(F.min(F.struct(F.col("__d"), F.col("code_id"))).alias("__best"))
            .select(
                "neighbor_id", "sub_id", F.col("__best.code_id").alias("code_id")
            )
        )
    dtab = (
        _subspaces(probes, "query_id", m, sub, id_col, vec_col)
        .join(cb, "sub_id")
        .select("query_id", "sub_id", "code_id", dmicro.alias("__d"))
    )
    adc = (
        corpus_codes.join(F.broadcast(dtab), ["sub_id", "code_id"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__d").alias("__sd"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sd").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sd").cast("double") / 1e6, 6).alias("approx_l2sq"),
            "rank",
        )
    )


def pq_distortion(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | ValidatedCodebook | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Mean ADC quantization distortion of a PQ codebook over the corpus —
    the codebook-quality metric training actually optimizes, and the one
    that converges where recall@k over a small probe sample is sampling
    noise (k-means provably descends this; whether that shows up in
    recall@5 over 10 probes is corpus luck). One row:
    ``(n_vectors BIGINT, mean_distortion_micro BIGINT)`` — per-vector sum
    over subspaces of the min integer-micro l2² to any codeword, floor-
    divided by the corpus count, so both engines produce the identical
    integer. One broadcast codebook join reduced by map-side-combinable
    min/sum aggregates — never more than one pass over the corpus.

    ``encoded`` optionally supplies a PRECOMPUTED per-(vector, subspace)
    min-distance frame — ``(neighbor_id, sub_id, __d)`` rows from a
    checkpointed :func:`pq_encode_cells` output over exactly this
    (``embeddings``, ``codebook``) pair (the struct-min's ``__d`` IS
    min(__d): lexicographic struct order compares ``__d`` first) —
    skipping the inline encode entirely; ``codebook``/``n_codes`` are
    then unused. The caller asserts that equivalence; a frame without
    those columns raises here, and one that does not hold exactly ``m``
    rows with ``sub_id`` in ``[0, m)`` per vector (an encode made for
    another ``m``) raises when the result is evaluated — the check rides
    in the per-vector aggregate, so it adds no job."""
    if encoded is not None:
        missing = {"neighbor_id", "sub_id", "__d"} - set(encoded.columns)
        if missing:
            raise ValueError(
                f"encoded frame lacks {sorted(missing)}; pass pq_encode_cells "
                "output (neighbor_id, sub_id, __d)"
            )
        per_vec = encoded.groupBy(F.col("neighbor_id").alias("__did")).agg(
            F.count("*").alias("__n"),
            F.min("sub_id").alias("__lo"),
            F.max("sub_id").alias("__hi"),
            F.sum("__d").alias("__d"),
        )
        whole = (F.col("__n") == m) & (F.col("__lo") >= 0) & (F.col("__hi") < m)
        msg = (
            f"encoded frame does not hold exactly {m} rows with sub_id in "
            f"[0, {m}) per vector; was it encoded with another m?"
        )
        # one row per vector: the shared tail's distinct count and sum
        # read the same totals as from the per-subspace rows
        per_sub = per_vec.select(
            "__did",
            F.coalesce(F.assert_true(whole, msg), F.col("__d")).alias("__d"),
        )
    else:
        sub = _pq_sub(dim, m)
        cb = (
            _as_codebook(codebook, m)
            if codebook is not None
            else _pq_codebook(embeddings, m, sub, n_codes, id_col, vec_col)
        )
        dmicro = F.round(_l2sq(F.col("__sv"), F.col("__cv")) * 1e6).cast("bigint")
        per_sub = (
            _subspaces(embeddings, "__did", m, sub, id_col, vec_col)
            .join(cb, "sub_id")
            .groupBy("__did", "sub_id")
            .agg(F.min(dmicro).alias("__d"))
        )
    return (
        per_sub.groupBy()
        .agg(
            F.countDistinct("__did").cast("bigint").alias("n_vectors"),
            F.sum("__d").alias("__tot"),
        )
        .select(
            "n_vectors",
            F.expr("CAST(__tot DIV n_vectors AS BIGINT)").alias(
                "mean_distortion_micro"
            ),
        )
    )


def l2_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k squared-L2 neighbors — the metric-matched ground truth
    for the PQ family's recall measurement: PQ/IVF-PQ approximate L2², so
    scoring them against the COSINE baseline would conflate quantization
    error with metric disagreement. Same broadcast cross-join shape as
    :func:`cosine_topk`; distances quantized to the same integer
    micro-units as ``pq_topk``'s ADC, so ranking and tie-breaks are
    bit-portable across engines."""
    q = probes.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__c")
    )
    d = F.round(_l2sq(F.col("__q"), F.col("__c")) * 1e6).cast("bigint")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d.alias("__d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__d").cast("double") / 1e6, 6).alias("l2sq"),
            "rank",
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    n_cells: int = 8,
    n_probe_cells: int = 1,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | ValidatedCodebook | None = None,
    centroids: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN top-k — the composed index a 100 TB deployment actually
    runs: IVF coarse cells bound the COMPUTE (each probe ADC-scores only
    its ``n_probe_cells`` nearest cells' inverted lists — occupancy × P
    codes, never the corpus) while PQ bounds the MEMORY (after encode the
    corpus exists as m-byte code arrays; no float vector is ever touched
    again). ``pq_topk`` alone is exhaustive ADC; ``ivf_topk`` alone keeps
    full vectors — this composition is the missing 100 TB configuration
    (round-6 verdict #4).

    Both halves reuse their driver-checked parents verbatim: cell
    assignment is :func:`assign_cells` on the same first-``n_cells``
    centroid convention as ``ivf_topk``; the codebook/encode/ADC stages
    share :func:`_pq_codebook`/micro-integer distance arithmetic with
    ``pq_topk``, so encode argmin and table sums stay exact integer ops,
    order-independent and bit-identical in the oracle.

    Scale shape: centroids and codebook broadcast (both constant-size);
    the corpus streams ONCE carrying its cell id through the encode
    (the per-(vector,subspace) argmin is map-side-combined keyed on
    (vector, cell, subspace) — cell is functionally dependent on vector,
    so the combine keys stay per-vector); after encode only (cell, m
    codes) rows move. The probe table (probes × P cells × m × n_codes
    distances) is probe-bounded and broadcasts onto the codes; scoring
    work is Σ occupancy(probed cells) × m — the IVF pruning applied to
    ADC. Recall compounds the two levers: ``n_probe_cells`` recovers
    boundary neighbors, finer codebooks tighten the distance estimate.

    Sharing parameters (all assert-equivalence, identical results by
    construction): ``codebook`` may be a :class:`ValidatedCodebook`
    (:func:`pq_codebook_standin` / :func:`validate_codebook`);
    ``corpus_cells`` a precomputed
    :func:`assign_cells` output over exactly this (``embeddings``,
    ``centroids``) pair; ``codes`` a precomputed
    :func:`pq_encode_cells` output over exactly this (``embeddings``,
    ``centroids``, ``codebook``) triple — with ``codes`` supplied the
    corpus is never re-assigned or re-encoded here.
    """
    sub = _pq_sub(dim, m)
    cb = (
        _as_codebook(codebook, m)
        if codebook is not None
        else _pq_codebook(embeddings, m, sub, n_codes, id_col, vec_col)
    )
    if centroids is None:
        centroids = embeddings.where(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
        )
    else:
        centroids = _validated_centroids(centroids)
    dmicro = F.round(_l2sq(F.col("__sv"), F.col("__cv")) * 1e6).cast("bigint")
    if codes is not None:
        corpus_codes = codes.select("neighbor_id", "cell_id", "sub_id", "code_id")
    else:
        # corpus: one pass — coarse-assign, then encode with the cell id
        # riding along (no post-encode join to re-attach it)
        if corpus_cells is None:
            corpus_cells = assign_cells(
                embeddings.select(
                    F.col(id_col).alias("neighbor_id"), F.col(vec_col)
                ),
                centroids,
                id_col="neighbor_id",
            )
        arr = F.array(
            *[F.slice(F.col(vec_col), s * sub + 1, sub) for s in range(m)]
        )
        corp_sub = corpus_cells.select(
            "neighbor_id", "cell_id", F.posexplode(arr).alias("sub_id", "__sv")
        )
        corpus_codes = (
            corp_sub.join(cb, "sub_id")
            .select(
                "neighbor_id", "cell_id", "sub_id", "code_id", dmicro.alias("__d")
            )
            .groupBy("neighbor_id", "cell_id", "sub_id")
            .agg(F.min(F.struct(F.col("__d"), F.col("code_id"))).alias("__best"))
            .select(
                "neighbor_id", "cell_id", "sub_id",
                F.col("__best.code_id").alias("code_id"),
            )
        )
    # probes: P nearest cells each (same ranking as ivf_topk's multiprobe)
    qsim = F.round(
        _dot(F.col(vec_col), F.col("centroid")) / (F.col("__qn") * F.col("__cenn")),
        SIM_DECIMALS,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qsim").desc(), F.col("cell_id").asc()
    )
    probe_cells = (
        probes.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col),
            _norm(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(F.broadcast(centroids.withColumn("__cenn", _norm(F.col("centroid")))))
        .select("query_id", "cell_id", qsim.alias("__qsim"))
        .withColumn("__cr", F.row_number().over(wq))
        .where(F.col("__cr") <= n_probe_cells)
        .select("query_id", "cell_id")
    )
    dtab = (
        _subspaces(probes, "query_id", m, sub, id_col, vec_col)
        .join(cb, "sub_id")
        .select("query_id", "sub_id", "code_id", dmicro.alias("__d"))
    )
    # both sides are probe-bounded; broadcasting the (query, cell) list
    # keeps the probe-table build shuffle-free (no SMJ re-sort of dtab)
    probe_tab = dtab.join(F.broadcast(probe_cells), "query_id")
    adc = (
        corpus_codes.join(F.broadcast(probe_tab), ["cell_id", "sub_id", "code_id"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__d").alias("__sd"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sd").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sd").cast("double") / 1e6, 6).alias("approx_l2sq"),
            "rank",
        )
    )


@memoized("embeddings")
def embedding_pair_clusters(
    embeddings: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: object = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared front end of the embedding-audit family: LSH-bucketed
    near-dup ``pairs`` (localCheckpointed — consumed by CC AND by the
    callers' own rankings) plus their connected-component ``labels``
    (node, comp). Pass ``cache_key`` (the caller-owned identity of the
    input, e.g. the dataset path) to share the checkpointed frames with
    sibling audits in the same session (:mod:`.artifacts`), so they reuse
    the WORK, not just the code: without sharing, one registry sweep pays
    the iterative CC latency floor once per audit (measured 6.5 + 6.0 +
    6.8 s at sf0.1). Results are deterministic either way, only
    wall-clock changes."""
    from .dedup import connected_components

    pairs = embedding_near_dup_pairs(
        embeddings, planes, threshold, id_col, vec_col
    ).localCheckpoint(eager=True)
    labels = connected_components(pairs, left_col="vec_a", right_col="vec_b")
    return pairs, labels


def contrastive_pairs(
    embeddings: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: object = None,
) -> DataFrame:
    """Hard-pair mining for contrastive embedding training: for every
    vector that belongs to a near-dup cluster AND shares an LSH bucket
    with at least one non-cluster-mate, emit its hardest positive and
    hardest negative.

    - hard positive: the anchor's DIRECT near-dup partner (a
      ``embedding_near_dup_pairs`` edge) with the LOWEST cosine — the
      least-obvious duplicate, the pair a contrastive loss learns most
      from; tie-broken on partner id.
    - hard negative: the same-LSH-bucket vector NOT in the anchor's
      cluster with the HIGHEST cosine — close in embedding space yet not
      a duplicate; tie-broken on candidate id. Within a bucket,
      cosine ≥ threshold implies a pair edge implies same cluster, so
      every same-bucket non-cluster-mate scores < threshold by
      construction — the mined negatives can never be mislabeled
      positives.

    Scale shape: reuses the pair stage's bucket self-join (work ∝ bucket
    occupancy, never all-pairs) with the shared pair frame checkpointed
    once to feed both connected components and positive ranking; cluster
    labels attach through plain id-keyed joins (dup-cluster membership is
    data-proportional in the worst case — not broadcast); both rankings
    are per-anchor windows over bucket-bounded candidate sets.
    Similarities are rounded to ``SIM_DECIMALS`` before ranking and ties
    break on ids, so the mined pairs are engine-portable.
    """
    pairs, labels = embedding_pair_clusters(
        embeddings, planes, threshold, id_col, vec_col, cache_key=cache_key
    )

    pos_cand = pairs.select(
        F.col("vec_a").alias("anchor"), F.col("vec_b").alias("partner"), "cosine_sim"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("anchor"),
            F.col("vec_a").alias("partner"),
            "cosine_sim",
        )
    )
    w_pos = Window.partitionBy("anchor").orderBy(
        F.col("cosine_sim").asc(), F.col("partner").asc()
    )
    pos = (
        pos_cand.withColumn("__rn", F.row_number().over(w_pos))
        .where(F.col("__rn") == 1)
        .select(
            "anchor",
            F.col("partner").alias("pos_id"),
            F.col("cosine_sim").alias("pos_sim"),
        )
    )

    v = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__bucket"),
    )
    a = v.select(
        F.col(id_col).alias("anchor"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__bucket",
    )
    b = v.select(
        F.col(id_col).alias("cand"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__bucket",
    )
    la = labels.select(
        F.col("node").alias("anchor"), F.col("comp").alias("__ca")
    )
    lb = labels.select(F.col("node").alias("cand"), F.col("comp").alias("__cb"))
    cos = F.round(
        _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        SIM_DECIMALS,
    )
    neg_cand = (
        a.join(b, "__bucket")
        .where(F.col("anchor") != F.col("cand"))
        .join(la, "anchor")  # anchors must be clustered (they need a positive)
        .join(lb, "cand", "left")
        .where(F.col("__cb").isNull() | (F.col("__cb") != F.col("__ca")))
        .select("anchor", "cand", cos.alias("__cos"))
    )
    w_neg = Window.partitionBy("anchor").orderBy(
        F.col("__cos").desc(), F.col("cand").asc()
    )
    neg = (
        neg_cand.withColumn("__rn", F.row_number().over(w_neg))
        .where(F.col("__rn") == 1)
        .select(
            "anchor",
            F.col("cand").alias("neg_id"),
            F.col("__cos").alias("neg_sim"),
        )
    )
    return pos.join(neg, "anchor").select(
        F.col("anchor").cast("bigint").alias("anchor"),
        F.col("pos_id").cast("bigint").alias("pos_id"),
        F.col("pos_sim").cast("double").alias("pos_sim"),
        F.col("neg_id").cast("bigint").alias("neg_id"),
        F.col("neg_sim").cast("double").alias("neg_sim"),
    )
