"""Record linkage / entity resolution over STRUCTURED rows.

The dedup family resolves near-identical DOCUMENTS (shingle sets, edit
distance on text, embedding cosine); this module resolves near-identical
RECORDS — the master-data problem: the same customer/supplier ingested
twice with a typo'd name, a reformatted phone, a moved address. The
classic three-stage shape (Fellegi & Sunter 1969; the Dedupe/Splink
lineage in public practice):

  1. BLOCKING — a cheap equi-key partitions the corpus so candidate
     pairs form only within blocks: the all-pairs O(n²) becomes
     Σ_b n_b²/2. Physically one self-join keyed on the block columns —
     the same shape as the LSH band join, and it reuses the same
     hot-key guardrail (blocks above ``max_block_size`` are dropped via
     a broadcast anti-join before the self-join; an overflowing block
     means the blocking key is wrong, not that the join should run).
  2. FIELD SIMILARITY — per-field Levenshtein similarity in exact
     integer ppm (``(maxlen − lev)·1e6 div maxlen``), combined by
     integer weights: score = (Σ wᵢ·simᵢ) div (Σ wᵢ). NULL on either
     side of a field scores 0 (conservative). JVM-side end to end.
  3. RESOLUTION — pairs ≥ threshold feed the SAME
     ``connected_components`` used for duplicate clusters; the minimum
     id is the surviving "golden record" key.

Shuffle shape at 100 TB: one self-join keyed on the block key (skew
bounded by the cap), per-pair work O(field lengths²) only within blocks,
then the O(log diameter) CC iterations over the match graph — which is
tiny relative to the corpus (matches are rare by construction).

Reference parity: the reference engine has no record-linkage surface
(`/root/reference/src/**` is ingest + cleaning + star schema); this is
part of the LLM-training-data / warehouse extension surface
(SURVEY.md §2.9). Arithmetic is exact integer so the match decisions
replay identically across engines — the oracle recomputes every score
with DuckDB's ``levenshtein`` and integer division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components

DEFAULT_MAX_BLOCK_SIZE = 10_000
SIM_SCALE = 1_000_000


def _blocked_self_join(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    payload_cols: list[str],
    max_block_size: int | None,
) -> DataFrame:
    """ONE self-join keyed on the block columns, carrying ``payload_cols``
    on BOTH sides (suffixed ``__a_``/``__b_``) so downstream scoring
    never joins the pair frame back to the table — the pair frame is the
    widest frame in the plan, and re-keying it twice by id was measured
    at ~3× the whole operator's cost at sf0.1.

    ``max_block_size`` drops overflowing blocks before the join
    (broadcast anti-join on the hot keys — the LSH bucket-cap pattern
    verbatim): a block with n rows emits ~n²/2 pairs, so one degenerate
    key must not go quadratic.

    The base is hash-repartitioned by id up front (the `_doc_shingles`
    spread pattern): when the planner broadcasts the b-side, NOTHING else
    shuffles the a-side, so the ~n²/2-pair explosion and its per-pair
    Levenshtein kernels inherit the SCAN partitioning — a zone compacted
    into few files runs the whole quadratic stage on few cores (measured
    at sf0.1, 900k pairs: scoring stage 3.5 s → 0.95 s with the spread,
    same-session A/B). The moved bytes are the compact pre-explosion
    records."""
    base = df.select(
        F.col(id_col), *[F.col(c) for c in dict.fromkeys(block_cols + payload_cols)]
    ).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    if max_block_size is not None:
        hot = (
            base.groupBy(*block_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_block_size)
            .drop("__n")
        )
        base = base.join(F.broadcast(hot), block_cols, "left_anti")
    a = base.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__ba_{c}") for c in block_cols],
        *[F.col(c).alias(f"__a_{c}") for c in payload_cols],
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
        *[F.col(c).alias(f"__b_{c}") for c in payload_cols],
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    return a.join(b, cond)


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    max_block_size: int | None = DEFAULT_MAX_BLOCK_SIZE,
) -> DataFrame:
    """Within-block candidate pairs (id_a < id_b); see
    :func:`_blocked_self_join` for the join shape and the hot-block cap."""
    return _blocked_self_join(df, id_col, block_cols, [], max_block_size).select(
        "id_a", "id_b"
    )


def record_match_scores(
    df: DataFrame,
    id_col: str,
    field_weights: dict[str, int],
    block_cols: list[str],
    max_block_size: int | None = DEFAULT_MAX_BLOCK_SIZE,
) -> DataFrame:
    """Candidate pairs with per-field edit similarities and the weighted
    integer match score: ``score_ppm = (Σ wᵢ·simᵢ) div (Σ wᵢ)``.

    Output: (id_a, id_b, sim_<field>…, score_ppm). Weights are integers
    (basis points, shares — any unit); the division is the single floor
    at the end, so the score is exact. Field payloads ride the blocking
    self-join, and each field's levenshtein is staged as a real column
    before the sim expression references it — a reused expression SUBTREE
    is re-evaluated where codegen CSE misses it; a reused column never is."""
    fields = list(field_weights)
    joined = _blocked_self_join(df, id_col, block_cols, fields, max_block_size)
    for f in fields:
        a, b = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        # Each field's levenshtein appears EXACTLY ONCE in the expression
        # tree (the `div` form uses each operand once; the %-identity form
        # would reference the lev subtree twice, and Project collapse
        # inlines subtrees — codegen CSE does not reliably recover them
        # across when-branches). The a == b shortcut skips the O(len²)
        # kernel entirely for exact matches — the common case when an
        # exact attribute leaks into the fuzzy fields.
        joined = (
            joined.withColumn(
                f"__max_{f}",
                F.greatest(F.length(a).cast("bigint"), F.length(b).cast("bigint")),
            )
            .withColumn(
                f"__y_{f}",
                (F.col(f"__max_{f}") - F.levenshtein(a, b).cast("bigint"))
                * F.lit(SIM_SCALE),
            )
            .withColumn(
                f"sim_{f}",
                F.when(a.isNull() | b.isNull(), F.lit(0).cast("bigint"))
                .when(a == b, F.lit(SIM_SCALE).cast("bigint"))
                .otherwise(
                    F.expr(f"CAST(__y_{f} div __max_{f} AS BIGINT)")
                ),
            )
        )
    total_w = sum(field_weights.values())
    weighted = None
    for f, w in field_weights.items():
        term = F.lit(w).cast("bigint") * F.col(f"sim_{f}")
        weighted = term if weighted is None else weighted + term
    score = F.expr(f"CAST(__wsum div {total_w} AS BIGINT)")
    return (
        joined.withColumn("__wsum", weighted)
        .withColumn("score_ppm", score)
        .select("id_a", "id_b", *[f"sim_{f}" for f in fields], "score_ppm")
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    field_weights: dict[str, int],
    block_cols: list[str],
    min_score_ppm: int,
    max_block_size: int | None = DEFAULT_MAX_BLOCK_SIZE,
) -> DataFrame:
    """Full entity resolution: blocking → weighted field similarity →
    threshold → connected components. Output: (id_col, entity_id,
    is_canonical) for every record in a match cluster (singletons are
    their own implicit entity, as in ``dedup_cluster_assign``); the
    minimum member id is the golden-record key."""
    scores = record_match_scores(
        df, id_col, field_weights, block_cols, max_block_size
    )
    matches = scores.where(F.col("score_ppm") >= min_score_ppm)
    labels = connected_components(matches, left_col="id_a", right_col="id_b")
    return labels.select(
        F.col("node").alias(id_col),
        F.col("comp").cast("bigint").alias("entity_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_canonical"),
    )
