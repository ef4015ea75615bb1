"""Distributed BPE tokenizer training — the vocabulary-induction step of
an LLM data pipeline, trained corpus-wide with exact integer arithmetic.

Byte-pair encoding (Sennrich, Haddow & Birch, "Neural Machine Translation
of Rare Words with Subword Units", ACL 2016 — public knowledge) trains on
the WORD-TYPE table, not the corpus: tokenize once, count word types, and
every subsequent iteration touches only ``(word, n, symbols)`` rows — at
100 TB the corpus is petabyte-scale but its word-type table is ~10⁸ rows,
so k merge iterations cost k small bounded jobs after ONE corpus scan.

Per iteration:

1. **Pair counts** — adjacent symbol pairs per word via ``zip_with`` over
   two array slices (no explode of per-position rows, no window), weighted
   by the word count; one map-side-combinable ``groupBy(lhs, rhs).sum(n)``
   whose shuffle is bounded by the distinct-pair vocabulary, never the
   corpus.
2. **Argmax pair** — highest count, ties broken lexicographically on
   (lhs, rhs): ``orderBy(cnt DESC, lhs, rhs).limit(1)`` compiles to
   TakeOrderedAndProject (every task forwards its local top-1). The winner
   is collected to the driver — 2 strings + a count, bounded metadata (the
   connected-components convergence-flag pattern).
3. **Greedy merge** — every non-overlapping left-to-right occurrence of
   the winning pair fuses into one symbol, per word, via a single
   ``F.aggregate`` scan over the symbol array (JVM higher-order function;
   no UDF, no shuffle). Greedy left-to-right is the standard BPE merge
   order; overlapping runs like ``aaa`` under pair ``(a, a)`` resolve to
   ``(aa, a)``.
4. The ≤ vocab-size word table is ``localCheckpoint``-ed so lineage never
   compounds across iterations (the Lloyd-iteration pattern from
   :mod:`.kmeans`).

Every count is an exact BIGINT sum and every merge decision is a string
comparison, so the trained merge table is a pure function of the corpus —
bit-identical across runs, partition layouts, and engines. The DuckDB
oracle unrolls the same iterations; its merge step uses the positional
twin of the scan (marks + run-parity greedy selection via windows), which
is provably equivalent: inside a run of consecutive marked positions
(which requires lhs = rhs), greedy takes exactly the even offsets, and
isolated marks are always taken.

Reference parity: the reference repo has no tokenizer training — this is
engine-extension surface (SURVEY.md §2.9); ``text.token_stats``'s
regex-class counter (`operators/text.py:30`) estimates tokens with a fixed
pretokenizer, while this module trains the merges themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .artifacts import memoized
from .text import tokens_expr

#: Words longer than this are dropped from training (vocab hygiene: the
#: standard guard against URLs / base64 blobs poisoning the pair counts —
#: mirrored verbatim in the oracle).
MAX_WORD_LEN = 64


def chars_expr(word: Column) -> Column:
    """word → array of its characters (1-indexed ``substr`` probe per
    position; character-based in both engines, so multibyte text splits
    identically)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substr(word, i, F.lit(1)),
    )


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """The ONE corpus scan: shared-tokenizer words exploded and counted
    into the word-type table ``(word, n, syms)`` with ``syms`` the
    character split. Shuffle key is the word itself; the aggregate is
    map-side combinable, so task output is bounded by per-task distinct
    words."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens_expr(text_col)).alias("word"))
        .where(F.length("word").between(1, max_word_len))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select("word", "n", chars_expr(F.col("word")).alias("syms"))
    )


def pair_counts(words: DataFrame, sym_col: str = "syms", n_col: str = "n") -> DataFrame:
    """Adjacent-pair counts ``(lhs, rhs, cnt)`` weighted by word count.
    Pairs come from ``zip_with`` of the array against its own 1-shifted
    slice — rows stay one-per-word until the explode, and the aggregate
    combines map-side."""
    s = F.col(sym_col)
    pairs = F.zip_with(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s)),
        lambda l, r: F.struct(l.alias("lhs"), r.alias("rhs")),
    )
    return (
        words.select(F.col(n_col).alias("__n"), F.explode(pairs).alias("__p"))
        .groupBy(F.col("__p.lhs").alias("lhs"), F.col("__p.rhs").alias("rhs"))
        .agg(F.sum("__n").alias("cnt"))
    )


def merge_scan_expr(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right non-overlapping merge of ``(lhs, rhs)`` in a
    symbol array — one ``F.aggregate`` scan carrying ``(emitted, pending)``:
    when the pending symbol is ``lhs`` and the next is ``rhs`` they fuse
    into the new pending symbol (which can never re-match ``lhs``, so a
    fused symbol never chains); otherwise pending is emitted. Single-symbol
    words pass through (the scan body is the empty tail slice)."""
    return F.aggregate(
        F.slice(syms, 2, F.size(syms)),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.element_at(syms, 1).alias("p"),
        ),
        lambda acc, x: F.when(
            (acc["p"] == F.lit(lhs)) & (x == F.lit(rhs)),
            F.struct(acc["out"].alias("out"), F.concat(acc["p"], x).alias("p")),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["p"])).alias("out"),
                x.alias("p"),
            )
        ),
        lambda acc: F.concat(acc["out"], F.array(acc["p"])),
    )


def apply_merges_expr(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Chain the trained merges in rank order over a character array —
    BPE segmentation as ONE expression (k nested scans; no UDF, no join).
    CAUTION: each scan re-references its input three times (slice, first
    element, size), so the expression tree grows ~3^k — fine for a handful
    of merges, pathological past that. For a trained tokenizer of any real
    size, segment via the word-type table instead (:func:`bpe_token_stats`
    joins it), which is also the 100 TB shape: per-word work once, not per
    occurrence."""
    out = syms
    for lhs, rhs in merges:
        out = merge_scan_expr(out, lhs, rhs)
    return out


@memoized("df")
def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    cache_key: object = None,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges on a corpus. Returns
    ``(merges, words)`` where ``merges`` is the ranked list
    ``[(lhs, rhs, pair_count), …]`` (driver-side metadata — 2 strings and
    a count per rank) and ``words`` is the final word-type table
    ``(word, n, syms)`` with each word segmented under all trained merges
    (localCheckpointed, ≤ vocab rows — reuse without retraining).

    Training stops early only if the corpus runs out of pairs (every word
    fused to one symbol) — with the oracle's LEFT JOIN formulation both
    engines then agree on the shorter merge table.

    Pass ``cache_key`` (the corpus identity, e.g. the dataset path) to
    share the trained state with sibling entries of the same session
    (:mod:`.artifacts`): a registry sweep where several entries read the
    same tokenizer (merge table, vocab, token stats) trains ONCE.
    """
    if n_merges < 0:
        raise ValueError(f"need n_merges >= 0; got {n_merges}")
    words = word_counts(df, text_col, max_word_len).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], int(top[0]["cnt"])
        merges.append((lhs, rhs, cnt))
        words = words.select(
            "word", "n", merge_scan_expr(F.col("syms"), lhs, rhs).alias("syms")
        ).localCheckpoint(eager=True)
    return merges, words


def batch_merge_scan_expr(syms: Column, pairs: list[tuple[str, str]]) -> Column:
    """Greedy left-to-right merge of SEVERAL pairwise symbol-disjoint
    pairs in ONE aggregate scan. Because no symbol appears in two pairs
    (and no pair's symbol equals another pair's fused concat — the
    :func:`_select_batch` guard), each position can match at most one
    rule, so one pass applying all rules is exactly the composition of
    the per-pair :func:`merge_scan_expr` scans in any order — while the
    expression tree stays LINEAR in the batch size (one chained ``when``
    per rule) instead of the 3^k blow-up of nesting k single-pair scans.
    """
    def step(acc, x):
        out = F.struct(
            F.concat(acc["out"], F.array(acc["p"])).alias("out"),
            x.alias("p"),
        )
        for lhs, rhs in reversed(pairs):
            out = F.when(
                (acc["p"] == F.lit(lhs)) & (x == F.lit(rhs)),
                F.struct(acc["out"].alias("out"), F.concat(acc["p"], x).alias("p")),
            ).otherwise(out)
        return out

    return F.aggregate(
        F.slice(syms, 2, F.size(syms)),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.element_at(syms, 1).alias("p"),
        ),
        step,
        lambda acc: F.concat(acc["out"], F.array(acc["p"])),
    )


def _select_batch(
    cands: list[tuple[str, str, int]],
    max_batch: int,
    truncated: bool,
) -> list[tuple[str, str, int]]:
    """Longest PREFIX of the (cnt DESC, lhs, rhs)-ordered candidate list
    that is provably safe to merge in one batch, i.e. batched training is
    bit-identical to running the sequential trainer merge-by-merge:

    1. **Prefix, never skip**: the first pair that fails any guard ends
       the batch — a skipped-but-unaffected pair would be the sequential
       trainer's next argmax, so skipping past it would diverge.
    2. **Symbol-disjoint**: no symbol of the new pair appears in any
       accepted pair (fusing (a,b) cannot change the count of any pair
       not containing a or b), no symbol equals an accepted pair's
       fused concat, and the new pair's fused concat equals no accepted
       pair's symbol (in BOTH directions, a fused symbol must never
       re-match a batch rule within the same one-pass scan).
    3. **Strict dominance**: the new pair's count must be STRICTLY above
       every non-accepted candidate that shares a symbol with an accepted
       pair. Merging p_i only (a) decreases pairs interacting with p_i
       and (b) creates pairs (x, lhs·rhs)/(lhs·rhs, y) whose counts are
       bounded by the pre-merge counts of the interacting pairs (x,lhs)/
       (rhs,y) — so nothing can rise to or above the new pair's count,
       and strictness keeps the lexicographic tie-break out of play (a
       created pair's name could sort below ours).
       Interacting pairs OUTSIDE the candidate list have counts strictly
       below the list's floor ≤ the new pair's count, unless the list was
       ``truncated`` — then dominance over the floor itself is required.

    Ties between non-interacting candidates are safe: counts of
    untouched pairs are invariant, and list order IS the sequential
    tie-break (cnt DESC, then lexicographic), so the prefix order equals
    the sequential selection order.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    concats: set[str] = set()
    interact_bound = -1
    floor = cands[-1][2] if cands else -1
    for lhs, rhs, cnt in cands:
        if len(accepted) >= max_batch:
            break
        if accepted:
            if lhs in used or rhs in used or lhs in concats or rhs in concats:
                break
            if lhs + rhs in used:
                # The other direction of guard 2: if this pair's fused
                # output EQUALS an accepted pair's symbol, the batched
                # one-pass scan would let the accepted rule re-match the
                # symbol we just created (e.g. accepted (abcd,x), then
                # (a,bcd) fuses to 'abcd' which (abcd,x) consumes in the
                # SAME pass), while the sequential trainer applies each
                # rule exactly once — so the batch must end here.
                break
            if cnt <= interact_bound:
                break
            if truncated and cnt <= floor:
                break
        accepted.append((lhs, rhs, cnt))
        used.update((lhs, rhs))
        concats.add(lhs + rhs)
        for l2, r2, c2 in cands:
            if (l2, r2) in {(a, b) for a, b, _ in accepted}:
                continue
            if l2 in (lhs, rhs) or r2 in (lhs, rhs):
                interact_bound = max(interact_bound, c2)
    return accepted


def bpe_train_batched(
    df: DataFrame,
    n_merges: int = 8,
    batch_size: int = 8,
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """:func:`bpe_train` with top-B BATCHED merge selection — the lever
    that makes a production-size vocabulary affordable: the sequential
    trainer is correct but costs k driver-sequenced rounds for k merges
    (SCALE.md documents the honest 32k-merge arithmetic), while this
    variant accepts up to ``batch_size`` merges per round under the
    :func:`_select_batch` guards and applies them in ONE scan
    (:func:`batch_merge_scan_expr`) and ONE checkpoint — provably
    bit-identical output (pytest + hypothesis pin ≡ :func:`bpe_train`),
    ~B× fewer Spark jobs when the corpus' pair distribution cooperates
    (a Zipf vocabulary mostly does; adversarial chains degrade gracefully
    to batch = 1, never to a wrong merge table).

    Per round: one pair-count aggregate + ONE TakeOrdered collect of
    ``16·batch_size`` candidate rows (bounded driver metadata — the
    guard needs every pair that could interact at or above the batch
    floor; a truncated list just tightens the guard) + one merge scan +
    checkpoint.
    """
    if n_merges < 0:
        raise ValueError(f"need n_merges >= 0; got {n_merges}")
    if batch_size < 1:
        raise ValueError(f"need batch_size >= 1; got {batch_size}")
    words = word_counts(df, text_col, max_word_len).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    cap = 16 * batch_size
    while len(merges) < n_merges:
        cands = [
            (r["lhs"], r["rhs"], int(r["cnt"]))
            for r in pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(cap)
            .collect()
        ]
        if not cands:
            break
        batch = _select_batch(
            cands,
            min(batch_size, n_merges - len(merges)),
            truncated=len(cands) == cap,
        )
        merges.extend(batch)
        words = words.select(
            "word",
            "n",
            batch_merge_scan_expr(
                F.col("syms"), [(l, r) for l, r, _ in batch]
            ).alias("syms"),
        ).localCheckpoint(eager=True)
    return merges, words


_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def merge_table(
    spark: SparkSession, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """The trained merge list as a DataFrame ``(merge_rank, lhs, rhs,
    merged, pair_count)`` — the persistable tokenizer artifact (k rows of
    driver metadata; at warehouse scale this lands next to the corpus
    snapshot it was trained on)."""
    rows = [
        (i, lhs, rhs, lhs + rhs, cnt) for i, (lhs, rhs, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, _MERGE_SCHEMA)


def bpe_vocab(words: DataFrame) -> DataFrame:
    """Subword vocabulary of a trained word table: per symbol, the number
    of word types containing it and its total corpus occurrences (exact
    BIGINT sums — one combinable aggregate over the exploded symbol
    stream, bounded by chars + merges). This hashes the ENTIRE final
    segmentation of every word, so any mis-merged word anywhere in the
    table changes the result."""
    return (
        words.select("word", "n", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("word").cast("bigint").alias("n_words"),
            F.sum("n").alias("n_occurrences"),
        )
    )


def bpe_token_stats(
    df: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Per-document token count under a TRAINED tokenizer ``(id, n_words,
    n_bpe_tokens)`` — the budget input :func:`..curation.token_budget_sample`
    consumes, now with real merges instead of the whitespace/regex
    estimate. ``words`` is the trained word-type table from
    :func:`bpe_train`: segmentation work was paid once per word TYPE at
    training, so scoring a corpus is one word-keyed equi-join of the
    exploded occurrence stream against ``(word, n_subwords)`` — the
    100 TB shape (the inline :func:`apply_merges_expr` chain grows ~3^k
    and re-segments every occurrence). Out-of-table words — over-long
    ones dropped by training's ``max_word_len`` hygiene filter, or any
    word of a corpus the tokenizer never saw — fall back to their
    character count (the untrained segmentation, mirrored in the
    oracle)."""
    occ = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode_outer(tokens_expr(text_col)).alias("word")
    )
    lut = words.select("word", F.size("syms").cast("bigint").alias("__n_sub"))
    return (
        occ.join(lut, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count("word").cast("bigint").alias("n_words"),
            F.coalesce(
                F.sum(F.coalesce(F.col("__n_sub"), F.length("word").cast("bigint"))),
                F.lit(0).cast("bigint"),
            ).alias("n_bpe_tokens"),
        )
    )
