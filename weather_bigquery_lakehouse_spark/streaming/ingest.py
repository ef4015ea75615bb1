"""Structured Streaming over the lakehouse zones.

The reference's 'stream' is a daily re-ingested batch (SURVEY.md §2.7):
date-partitioned bronze objects + append-mode gold loads. The idiomatic
Spark upgrade is a file-source stream with ``Trigger.AvailableNow`` — each
run incrementally processes exactly the files not yet seen (checkpointed),
which reproduces the reference's daily-batch semantics with exactly-once
bookkeeping for free, and the SAME code scales to a continuous trigger.

Window choice: tumbling 1h processing windows aligned to the epoch
(``F.window``), so the streaming result is bit-identical to the batch
``date_trunc('hour', ts)`` rollup — that equivalence is the oracle check.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.readers import events_schema, normalize_event_ts
from ..schemas import DOCUMENTS


def _scratch(prefix: str) -> str:
    """Process-lifetime scratch dir, removed at interpreter exit — default
    checkpoints/sinks for ad-hoc runs must not accumulate in /tmp across
    registry sweeps (callers that need durability pass explicit dirs)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _as_stream_dir(path: str) -> str:
    """The file-stream source lists a DIRECTORY; wrap a bare file in a
    DETERMINISTIC temp dir via symlink (zero copy). Local-filesystem
    convenience for the test harness — real zones are directories already.

    The wrapper path is derived from the source path (md5), NOT random: a
    stream checkpoint records the source path, so re-invoking the query —
    in the same process (bench reps, registry sweeps) or from a fresh one
    against a durable checkpoint — must present the SAME directory or the
    restart fails with a basePath mismatch."""
    import hashlib

    if os.path.isfile(path):
        target = os.path.abspath(path)
        key = hashlib.md5(target.encode()).hexdigest()[:12]
        # scope the wrapper under a per-uid dir, not the world-shared tmp
        # root: a predictable shared path could be pre-claimed by another
        # local user (symlink squatting)
        zone = os.path.join(
            tempfile.gettempdir(), f"wbl_{os.getuid()}", f"stream_src_{key}"
        )
        os.makedirs(zone, exist_ok=True)
        link = os.path.join(zone, os.path.basename(path))
        # never trust a pre-existing entry blindly: a stale or foreign
        # symlink (or a plain file) at the deterministic path would be
        # silently read as the stream source — verify it points at OUR
        # target and recreate otherwise
        if os.path.lexists(link):
            if not (os.path.islink(link) and os.readlink(link) == target):
                os.remove(link)
                os.symlink(target, link)
        else:
            os.symlink(target, link)
        return zone
    return path


STREAM_SHUFFLE_ENV = "WBL_STREAM_SHUFFLE_PARTITIONS"


@contextlib.contextmanager
def _stream_shuffle_scope(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` around a STATEFUL stream's
    start: a streaming query pins its state-store partition count from
    this conf at its first run (checkpoint-locked thereafter), and at toy
    SF the fixed per-partition store init/commit constant — 32 stores ×
    each stateful stage on local[32] — dominates wall-clock and amplifies
    box noise (the round-7 official record's `streaming_interval_join`
    reps spread 38/23/18 s loaded vs 5.7 s quiet on identical plans).
    ``WBL_STREAM_SHUFFLE_PARTITIONS`` lets the bench declare a smaller
    count for these short AvailableNow runs; unset (the default —
    production, correctness gates, tests) this is a no-op. Production
    sizes the conf to the cluster BEFORE the first stateful run instead
    (docs/SCALE.md "Knobs"); a checkpoint created under one value must
    keep it."""
    n = os.environ.get(STREAM_SHUFFLE_ENV)
    if not n:
        yield
        return
    try:
        int(n)
    except ValueError:
        # raise at stream START with the variable's name — spark.conf
        # would otherwise surface an opaque number-format error mid-plan
        raise ValueError(
            f"{STREAM_SHUFFLE_ENV} must be an integer, got {n!r}"
        )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, n)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_hourly_rollup_stream(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the tumbling-window rollup as an AvailableNow stream to
    completion and return the final result as a batch DataFrame.

    Complete output mode + memory sink: the stream is finite (AvailableNow)
    and the aggregate state is small (one row per hour bucket), so complete
    mode is the right trade — append mode would withhold the last window
    (watermark never passes it on a finite stream)."""
    name = f"hourly_rollup_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    schema = events_schema(spark, events_path)  # footer peek before dir-wrap
    events_path = _as_stream_dir(events_path)
    # same µs-truncated TIMESTAMP_NTZ normalization as the batch loader
    stream = normalize_event_ts(spark.readStream.schema(schema).parquet(events_path))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
        )
    )
    with _stream_shuffle_scope(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.sql(
        f"""
        SELECT w.start AS hour_start,
               n_events,
               CAST(total_value_dec AS DOUBLE) AS total_value
        FROM {name}
        """
    )


def run_dedup_stream(
    spark: SparkSession,
    documents_path: str,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Stateful streaming exact dedup: ``dropDuplicates`` on the content
    digest over an AvailableNow document stream — each digest is emitted
    the first time it is seen and suppressed afterwards, with the seen-set
    held in the state store across micro-batches (and across RUNS via the
    checkpoint: re-running against a grown zone emits only new content).

    Append output mode is correct here (unlike the windowed rollup):
    dedup emits rows immediately, nothing is withheld by a watermark. The
    sink is a real parquet zone (a memory sink cannot recover from a
    checkpoint in append mode), so the returned frame is the CUMULATIVE
    distinct-digest set across all runs — deterministic regardless of
    arrival order, which is what the batch oracle checks."""
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_dedup_")
    stream = (
        spark.readStream.schema(DOCUMENTS)
        .parquet(_as_stream_dir(documents_path))
        .where(F.col("text").isNotNull())
        .select(F.sha2(F.trim(F.col("text")), 256).alias("text_sha"))
        .dropDuplicates(["text_sha"])
    )
    with _stream_shuffle_scope(spark):
        query = (
            stream.writeStream.format("parquet")
            .option("path", output)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.read.schema("text_sha string").parquet(output)


def _replayed_zone(path: str, copies: int) -> str:
    """A scratch zone listing the same file ``copies`` times under distinct
    symlink names — an at-least-once redelivery simulation (each copy
    streams as its own source file, so duplicates can arrive in separate
    micro-batches and exercise cross-batch dedup state)."""
    zone = _scratch("wbl_stream_replay_")
    target = os.path.abspath(path)
    for i in range(copies):
        os.symlink(target, os.path.join(zone, f"copy{i}.parquet"))
    return zone


def run_bounded_dedup_stream(
    spark: SparkSession,
    events_path: str,
    delay: str = "1 hour",
    replay_copies: int = 1,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` ties state retention to the
    event-time watermark, so the seen-set holds O(arrival rate × horizon)
    keys and old entries are EVICTED — where ``run_dedup_stream``'s plain
    ``dropDuplicates`` keeps every key forever (an unbounded state store
    on a 100 TB events firehose). The trade, pinned by pytest: a
    redelivery later than ``delay`` after the original is handled by the
    watermark itself (late rows are filtered before the state lookup), so
    duplicates never re-emit, but a LEGITIMATE new event stamped older
    than the watermark is dropped too — standard watermark semantics, the
    right contract when upstream duplication comes from bounded redelivery
    (retries, at-least-once sources).

    ``replay_copies > 1`` streams the zone as that many identical source
    files (redelivery simulation); for ANY batching the emitted set equals
    the distinct events: a duplicate is either newer than the watermark
    (suppressed by state — the original's entry expires only at
    watermark > ts + delay, which cannot have happened while the duplicate
    is still ≥ watermark) or older (dropped as late). That makes the batch
    ``SELECT DISTINCT`` oracle exact."""
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_bdedup_")
    schema = events_schema(spark, events_path)  # footer peek before dir-wrap
    zone = (
        _replayed_zone(events_path, replay_copies)
        if replay_copies > 1
        else _as_stream_dir(events_path)
    )
    stream = (
        normalize_event_ts(spark.readStream.schema(schema).parquet(zone))
        # EventTimeWatermark requires TIMESTAMP (not NTZ); session tz is
        # pinned UTC, so the cast is value-preserving
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "event_type",
            "value",
        )
    )
    with _stream_shuffle_scope(spark):
        (
            stream.writeStream.format("parquet")
            .option("path", output)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.schema(
        "event_id bigint, user_id bigint, ts timestamp_ntz, "
        "event_type string, value double"
    ).parquet(output)


def run_watermarked_rollup_stream(
    spark: SparkSession,
    events_path: str,
    delay: str = "1 hour",
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Watermarked tumbling rollup in APPEND mode — the late-data contract:
    a 1h window is emitted (once, immutably) only after the watermark
    (max event time − ``delay``) passes its end, and events arriving later
    than the watermark are DROPPED rather than mutating an already-emitted
    window. This is the unbounded-stream shape — state is bounded by the
    watermark horizon — where the complete-mode twin
    (``run_hourly_rollup_stream``) re-emits everything and suits finite
    replays. Parquet sink: each run appends the windows it finalized."""
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_wm_")
    stream = (
        normalize_event_ts(
            spark.readStream.schema(events_schema(spark, events_path)).parquet(
                _as_stream_dir(events_path)
            )
        )
        # EventTimeWatermark requires TIMESTAMP (not NTZ); session tz is
        # pinned UTC, so the cast is value-preserving
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "n_events",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
    )
    with _stream_shuffle_scope(spark):
        (
            stream.writeStream.format("parquet")
            .option("path", output)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.schema(
        "hour_start timestamp, n_events bigint, total_value double"
    ).parquet(output)


def run_enrich_stream(
    spark: SparkSession,
    events_path: str,
    customer_path: str,
    nation_path: str,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Stream-static enrichment join — the third Structured Streaming join
    family next to stream-stream (``run_interval_join_stream``) and
    stateful aggregation: each event is decorated with its customer and
    nation attributes from STATIC dimension tables.

    Stream-static joins keep NO join state: the static side is complete
    by definition, so every micro-batch plans a fresh broadcast of the
    dims into the stream's plan (and re-reads them — a dim updated
    between batches is picked up, the streaming twin of a slowly-changing
    lookup). That is why this is the 100 TB-default enrichment shape: the
    firehose streams once, the MB-scale dims ride along as broadcasts,
    and nothing accumulates. On a finite replay the output equals the
    batch snowflake join, which is the oracle.
    """
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_enrich_")
    schema = events_schema(spark, events_path)  # footer peek before dir-wrap
    stream = normalize_event_ts(
        spark.readStream.schema(schema).parquet(_as_stream_dir(events_path))
    )
    customer = spark.read.parquet(customer_path).select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_nationkey")
    )
    nation = spark.read.parquet(nation_path).select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    enriched = (
        stream.join(
            F.broadcast(customer), stream["user_id"] == customer["c_custkey"]
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select("event_id", "user_id", "ts", "event_type", "value", "c_name", "nation")
    )
    (
        enriched.writeStream.format("parquet")
        .option("path", output)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.schema(
        "event_id bigint, user_id bigint, ts timestamp_ntz, event_type string, "
        "value double, c_name string, nation string"
    ).parquet(output)


def run_interval_join_stream(
    spark: SparkSession,
    events_path: str,
    delay: str = "35 days",
    window_seconds: int = 3600,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
    join_type: str = "inner",
    source_dir: str | None = None,
) -> DataFrame:
    """Watermarked stream-stream interval join — click→purchase attribution
    as the events arrive, the streaming twin of the batch
    ``range_join_clicks_before_purchase``: every (purchase, click) pair of
    the same user with the click inside ``[purchase − window, purchase)``.

    This is the one Structured Streaming operator family where STATE IS
    THE JOIN: each side buffers rows until the other side's watermark
    proves no future match can arrive, so the two ``withWatermark`` calls
    plus the time-range join condition are what let Spark evict — without
    them the buffers grow with the corpus, not with the horizon. State per
    side is O(arrival rate × (delay + window)).

    Inner-join emission is driven by ARRIVAL, not watermark closure, so
    for a finite AvailableNow replay whose ``delay`` covers the zone's
    time span no row is ever late and the emitted set equals the batch
    inner join under ANY batching — which makes the plain SQL range-join
    oracle exact. A production deployment shrinks ``delay`` to its real
    out-of-orderness bound; the trade (late clicks dropped) is the same
    watermark contract the bounded dedup pins.
    """
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_ivj_")
    schema = events_schema(spark, events_path)  # footer peek before dir-wrap
    zone = source_dir if source_dir is not None else _as_stream_dir(events_path)

    def _side(event_type: str, cols: dict[str, str]) -> DataFrame:
        s = normalize_event_ts(spark.readStream.schema(schema).parquet(zone))
        # EventTimeWatermark requires TIMESTAMP (not NTZ); session tz is
        # pinned UTC, so the cast is value-preserving
        return (
            s.where(F.col("event_type") == event_type)
            .select(
                *[
                    F.col(src).cast("timestamp").alias(dst)
                    if src == "ts"
                    else F.col(src).alias(dst)
                    for src, dst in cols.items()
                ]
            )
        )

    purchases = _side(
        "purchase", {"event_id": "event_id", "user_id": "user_id", "ts": "ts"}
    ).withWatermark("ts", delay)
    clicks = _side("click", {"user_id": "c_user_id", "ts": "click_ts"}).withWatermark(
        "click_ts", delay
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("ts") - F.expr(f"INTERVAL {window_seconds} SECOND"))
        & (F.col("click_ts") < F.col("ts")),
        join_type,
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    # NOTE: no sentinel guard INSIDE the streaming plan. A post-join
    # filter on user_id gets pushed below the purchase side's
    # EventTimeWatermark operator, so the watermark node never sees the
    # far-future sentinel and the global watermark (min of sides) stays
    # pinned — silently turning the outer join back into the inner one.
    # The guard lives on the batch re-read below instead.
    with _stream_shuffle_scope(spark):
        (
            joined.writeStream.format("parquet")
            .option("path", output)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    result = spark.read.schema(
        "event_id bigint, user_id bigint, ts timestamp_ntz, click_ts timestamp_ntz"
    ).parquet(output)
    if join_type != "inner":
        # sentinel guard (user_id = −1 rows must never surface even if a
        # future Spark version evicts them): applied on the BATCH re-read,
        # never inside the streaming plan — see the note above the start.
        result = result.where(F.col("user_id") >= 0)
    return result


def _outer_join_stream_dir(events_path: str, margin_days: int) -> str:
    """Dedicated stream-source dir for the OUTER interval join: the events
    file symlinked beside a 2-row watermark SENTINEL file (one far-future
    'purchase' + one far-future 'click', user_id = −1).

    Outer-join NULL emission is driven by watermark CLOSURE, not arrival:
    an unmatched purchase emits only once the click side's watermark
    proves no matching click can still arrive. On a finite replay the
    watermark stops at (max real ts − delay), which for a span-covering
    delay never passes ANY purchase — so without help a left-outer run
    degenerates to the inner join. The sentinels push both watermarks to
    (max_ts + margin − delay); with margin > delay every real purchase's
    eviction deadline is crossed and the final no-data micro-batch
    flushes every unmatched row. The sentinels themselves sit ABOVE the
    final watermark, so they stay buffered and never emit (the user_id
    guard in the query is belt-and-braces).

    The dir is deterministic (md5 of the source path), NOT shared with
    `_as_stream_dir`'s wrapper: sentinel rows must never leak into the
    other streaming entries reading the same zone. Local-filesystem
    harness convenience — a production zone would land the sentinel as a
    normal control record at stream close."""
    import datetime
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    target = os.path.abspath(events_path)
    key = hashlib.md5(target.encode()).hexdigest()[:12]
    zone = os.path.join(
        tempfile.gettempdir(), f"wbl_{os.getuid()}", f"stream_outer_{key}"
    )
    os.makedirs(zone, exist_ok=True)
    link = os.path.join(zone, os.path.basename(events_path))
    if os.path.lexists(link):
        if not (os.path.islink(link) and os.readlink(link) == target):
            os.remove(link)
            os.symlink(target, link)
    else:
        os.symlink(target, link)
    sentinel = os.path.join(zone, "zz_watermark_sentinel.parquet")
    if not os.path.exists(sentinel):
        src = pq.read_table(target, columns=None)
        ts_type = src.schema.field("ts").type
        max_ts = pc.max(src["ts"]).as_py()
        if isinstance(max_ts, int):  # TIMESTAMP(NANOS) fixtures read as int64
            far = max_ts + margin_days * 86_400 * 1_000_000_000
        else:
            far = max_ts + datetime.timedelta(days=margin_days)
        arrays, names = [], []
        for field in src.schema:
            names.append(field.name)
            if field.name == "ts":
                arrays.append(pa.array([far, far], type=ts_type))
            elif field.name == "event_type":
                arrays.append(pa.array(["purchase", "click"], type=field.type))
            elif field.name in ("event_id", "user_id"):
                arrays.append(pa.array([-1, -1], type=field.type))
            else:
                arrays.append(pa.nulls(2, type=field.type))
        pq.write_table(pa.table(dict(zip(names, arrays))), sentinel)
    return zone


def run_interval_join_outer_stream(
    spark: SparkSession,
    events_path: str,
    delay: str = "35 days",
    window_seconds: int = 3600,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join: every purchase
    emits — matched pairs on ARRIVAL (identical to the inner join), and
    purchases with NO click in ``[ts − window, ts)`` as a NULL-padded row
    once the click watermark passes their eviction deadline. This is the
    attribution-with-misses shape (conversion WITHOUT a preceding click
    is itself the signal) and the only join family where a row's ABSENCE
    is an output.

    State and eviction are exactly the inner join's
    (O(rate × (delay + window)) per side); what's new is the emission
    rule, which needs the watermark to actually CROSS the buffered rows —
    see :func:`_outer_join_stream_dir` for how a finite replay gets
    there. On such a replay the emitted set equals the batch LEFT JOIN
    under any batching: no row is late (span-covering delay), matches are
    watermark-independent, and NULL emission is exactly-once per
    unmatched purchase (checkpoint-deduped across restarts)."""
    delay_value, delay_unit = delay.split()
    if delay_unit not in ("day", "days"):
        raise ValueError(f"delay must be in days for the sentinel margin: {delay!r}")
    # past every eviction deadline: delay + the join window (a purchase
    # can be awaited up to window past its ts on the conservative side)
    # + a whole-day slack
    margin_days = int(delay_value) + window_seconds // 86_400 + 2
    zone = _outer_join_stream_dir(events_path, margin_days)
    return run_interval_join_stream(
        spark,
        events_path,
        delay=delay,
        window_seconds=window_seconds,
        checkpoint_dir=checkpoint_dir,
        output_dir=output_dir,
        join_type="leftOuter",
        source_dir=zone,
    )


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp_ntz, session_end timestamp_ntz, "
    "n_events bigint, total_value double"
)
# total held in integer CENTS: exact accumulation, and bit-identical to
# the oracle's SUM(CAST(value AS DECIMAL(18,2))) → DOUBLE on emission
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, total_cents long"


def run_session_stream(
    spark: SparkSession,
    events_path: str,
    gap_seconds: int = 6 * 3600,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
    idle_close_delay: str | None = None,
) -> DataFrame:
    """CUSTOM stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` — the engine shape for stateful logic the
    built-in windowed aggregates can't express.

    State per user = the OPEN session (start/last timestamps in integer
    microseconds, event count, value sum). An arriving event either extends
    it or — when the gap exceeds ``gap_seconds`` — CLOSES it: the closed
    session is emitted (append mode) and a fresh one opens. Sessions still
    open at end-of-stream stay in the state store and keep accumulating on
    the next run via the checkpoint, exactly like a live stream. The batch
    twin is ``operators.temporal.sessionize`` (identical closing rule);
    on a closed input the emitted set is the batch result minus each
    user's final (still-open) session.

    Events are assumed in order per run (the AvailableNow zone replay);
    within a batch they are sorted explicitly.

    ``idle_close_delay`` (e.g. ``"1 hour"``) is the production bounded-
    state mode: a watermark plus an EVENT-TIME TIMEOUT set to the open
    session's end + gap. When the watermark passes that point no in-
    watermark event can extend the session anymore, so the timeout fires,
    the session closes and EMITS, and the user's state is REMOVED — state
    holds only users active within the watermark horizon instead of every
    user ever seen (a dead user would otherwise pin state forever on an
    unbounded stream). The default (None) keeps NoTimeout: state carries
    across runs indefinitely, which is what the finite-replay oracle
    checks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    output = output_dir or _scratch("wbl_stream_sess_")
    gap_us = gap_seconds * 1_000_000
    bounded = idle_close_delay is not None

    def _micros(ts: pd.Series) -> pd.Series:
        vals = pd.to_datetime(ts)
        ints = vals.astype("int64")
        return ints // 1000 if vals.dtype.name.endswith("[ns]") else ints

    def _frame(sessions: list[tuple]) -> pd.DataFrame:
        out = pd.DataFrame(
            sessions,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )
        out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
        out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        return out

    def fn(key, pdfs, state: GroupState):
        from weather_bigquery_lakehouse_spark.worker import (
            silence_arrow_concat_futurewarning,
        )

        silence_arrow_concat_futurewarning()
        (user_id,) = key
        if bounded and state.hasTimedOut:
            # watermark passed session end + gap: nothing in-watermark can
            # extend it — close, emit, free the state slot
            if state.exists:
                start_us, last_us, n, cents = state.get
                yield _frame([(user_id, start_us, last_us, n, cents / 100.0)])
            state.remove()
            return
        start_us = last_us = None
        n, cents = 0, 0
        if state.exists:
            start_us, last_us, n, cents = state.get
        closed: list[tuple] = []
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for us, value in zip(_micros(rows["ts"]), rows["value"]):
            us, c = int(us), round(float(value) * 100)
            if start_us is None:
                start_us, last_us, n, cents = us, us, 1, c
            elif us - last_us > gap_us:
                closed.append((user_id, start_us, last_us, n, cents / 100.0))
                start_us, last_us, n, cents = us, us, 1, c
            else:
                last_us, n, cents = us, n + 1, cents + c
        state.update((start_us, last_us, n, cents))
        if bounded:
            # fires once the watermark proves no extension is possible;
            # last_us ≥ watermark (older rows are watermark-filtered), so
            # the timestamp is always ahead of the current watermark
            state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield _frame(closed)

    stream = normalize_event_ts(
        spark.readStream.schema(events_schema(spark, events_path)).parquet(
            _as_stream_dir(events_path)
        )
    )
    if bounded:
        # EventTimeWatermark requires TIMESTAMP (not NTZ); session tz is
        # pinned UTC, so the cast is value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", idle_close_delay
        )
    stream = stream.select("user_id", "ts", "value")
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if bounded
            else GroupStateTimeout.NoTimeout
        ),
    )
    with _stream_shuffle_scope(spark):
        (
            sessions.writeStream.format("parquet")
            .option("path", output)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.schema(SESSION_OUT_SCHEMA).parquet(output)


def run_chunk_index_stream(
    spark: SparkSession,
    documents_path: str,
    index_dir: str,
    checkpoint_dir: str | None = None,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Streaming RAG chunk-index maintenance: the documents zone streams
    with ``Trigger.AvailableNow``; each micro-batch re-chunks exactly the
    documents in its new files and group-REPLACES them into the parquet
    chunk index (``incremental.replace_groups`` — per-doc_id replacement,
    so a re-landed doc's stale chunks disappear even when it shrank).

    This is the live twin of the batch ``chunk_index_refresh`` query: the
    checkpoint gives exactly-once file bookkeeping (re-runs touch only new
    files), the snapshot uses the same write-next/rename swap with
    torn-swap recovery as the streaming gold MERGE, and a single run over
    a full zone must equal batch-chunking the whole corpus — which is the
    oracle check. At scale the foreachBatch body is verbatim a Delta/
    Iceberg ``MERGE``/``replaceWhere`` on the doc id."""
    from ..io.maintenance import commit_swap, recover_swap
    from ..operators.incremental import replace_groups
    from ..operators.text import chunk_documents

    index_schema = (
        "doc_id bigint, chunk_idx int, chunk_text string, n_chunk_tokens bigint"
    )
    recover_swap(index_dir)
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    stream = spark.readStream.schema(DOCUMENTS).parquet(
        _as_stream_dir(documents_path)
    )

    def _refresh(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        recover_swap(index_dir)
        chunks = chunk_documents(batch, chunk_tokens=chunk_tokens, stride=stride)
        if os.path.isdir(index_dir):
            # explicit schema: an index committed from an all-filtered
            # batch has no part files, and schema inference would fail
            base = sess.read.schema(index_schema).parquet(index_dir)
            merged = replace_groups(base, chunks, ["doc_id"])
        else:
            merged = chunks
        merged.write.mode("overwrite").parquet(index_dir + ".next")
        commit_swap(index_dir)

    (
        stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if not os.path.isdir(index_dir):
        # an empty zone runs zero micro-batches: the index is legitimately
        # empty, not an error
        return spark.createDataFrame([], index_schema)
    return spark.read.schema(index_schema).parquet(index_dir)


def run_incremental_gold_stream(
    spark: SparkSession,
    events_dir: str,
    gold_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming MERGE into a gold table: each micro-batch computes the
    latest (event_type, ts) per user and upserts it into the gold parquet
    snapshot through ``incremental.merge_upsert`` — batch rows win on key
    collision, unmatched gold rows survive. This upgrades the reference's
    append-only gold load (bigquery.py WRITE_APPEND) to key-level
    semantics while keeping the exactly-once file bookkeeping of the
    AvailableNow checkpoint: re-running against a grown events zone merges
    only the new files' users.

    The local sink is a swap-replaced parquet snapshot (write to
    ``<gold>.next``, then atomically rename over the old snapshot — torn
    swaps from a crash are repaired by ``maintenance.recover_swap`` before
    every merge); on a production lakehouse this foreachBatch body is
    verbatim a Delta / Iceberg MERGE — the plan shape inside (broadcast
    anti-join + union) is the same one merge_upsert pins. Out-of-order
    delivery is safe: each merge keeps, per user, the max
    (ts, event_type) across the existing gold row AND the batch, so a
    late-replayed or split batch (maxFilesPerTrigger) can never regress
    gold to an older event.
    """
    from ..io.maintenance import commit_swap, recover_swap
    from ..operators.incremental import merge_upsert

    # a crash between the swap renames leaves gold only in '.next'/'.old';
    # repair here too (not just per-batch) so a run with NO new files
    # still reads a recovered snapshot at the end
    recover_swap(gold_dir)
    checkpoint = checkpoint_dir or _scratch("wbl_stream_ckpt_")
    stream = normalize_event_ts(
        spark.readStream.schema(events_schema(spark, events_dir)).parquet(
            _as_stream_dir(events_dir)
        )
    )

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # repair a run that died mid-swap BEFORE touching leftovers: if the
        # gold dir is missing, '.next'/'.old' hold the only copy of all
        # previously merged users — recover_swap promotes/restores it
        # (the replayed merge below is idempotent), then drops debris
        recover_swap(gold_dir)
        latest = (
            batch.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_type")).alias("__last"))
            .select(
                "user_id",
                F.col("__last.event_type").alias("last_event_type"),
                F.col("__last.ts").alias("last_ts"),
            )
        )
        if os.path.isdir(gold_dir):
            base = sess.read.parquet(gold_dir)
            # newest-wins across base AND batch: the gold rows whose key is
            # in this batch (≤ |batch| rows, via broadcast semi-join) are
            # unioned with the batch and re-argmaxed, so an out-of-order or
            # split batch never regresses a user to an older event. The
            # base table itself still only sees broadcast joins.
            hit = base.join(
                F.broadcast(latest.select("user_id")), "user_id", "left_semi"
            )
            resolved = (
                hit.unionByName(latest)
                .groupBy("user_id")
                .agg(F.max(F.struct("last_ts", "last_event_type")).alias("__last"))
                .select(
                    "user_id",
                    F.col("__last.last_event_type").alias("last_event_type"),
                    F.col("__last.last_ts").alias("last_ts"),
                )
            )
            merged = merge_upsert(base, resolved, ["user_id"], broadcast_updates=True)
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(gold_dir + ".next")
        commit_swap(gold_dir)

    (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(gold_dir)
