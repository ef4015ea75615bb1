"""Driver-contract smoke + streaming semantics tests."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from weather_bigquery_lakehouse_spark.streaming.ingest import run_hourly_rollup_stream


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "r_name", "n_orders", "n_customers", "total_price", "first_order", "last_order",
    }


def test_every_query_has_callable_and_contract():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    # the driver's correctness gate records at most the FIRST 50 registry
    # entries (round-3 lesson: entries past the cutoff silently get no
    # green row) — the driver-facing window must stay exactly ≤ 50 while
    # the full registry (incl. retired) keeps every operator callable
    assert len(qs) == 50, f"driver window must hold 50 entries, got {len(qs)}"
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name

    from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES, RETIRED

    assert len(ALL_QUERIES) >= 60  # round-3 registry size — nothing deleted
    assert not set(RETIRED) & set(qs)
    for name, spec in RETIRED.items():
        assert callable(spec.fn), name
        assert spec.oracle, name  # retired entries keep their oracle


def test_streaming_rollup_matches_batch(spark, sf_dir):
    out = run_hourly_rollup_stream(spark, os.path.join(sf_dir, "events.parquet"))
    from weather_bigquery_lakehouse_spark.io.readers import load_testdata

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    batch = events.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    got = {(str(r["hour_start"]), r["n_events"], r["total_value"]) for r in out.collect()}
    want = {(str(r["hour_start"]), r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_state_survives_runs(spark, tmp_path):
    """The dedup state store must carry the seen-set ACROSS runs via the
    checkpoint: re-running against a grown zone emits only genuinely new
    content, even when a new file repeats old text."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import run_dedup_stream

    zone = tmp_path / "docs_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "docs_ckpt")
    sink = str(tmp_path / "docs_sink")

    spark.createDataFrame(
        [(1, "alpha", "en", "s", 5), (2, "alpha", "en", "s", 5), (3, "beta", "en", "s", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(zone / "f1"))
    out1 = run_dedup_stream(spark, str(zone) + "/*", checkpoint_dir=ckpt, output_dir=sink)
    assert out1.count() == 2  # alpha, beta (alpha's duplicate suppressed)

    spark.createDataFrame(
        [(4, "alpha", "en", "s", 5), (5, "gamma", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(zone / "f2"))
    out2 = run_dedup_stream(spark, str(zone) + "/*", checkpoint_dir=ckpt, output_dir=sink)
    # run 2 emits ONLY gamma (alpha suppressed by run-1 state); the sink is
    # cumulative, and each digest appears exactly once across both runs.
    shas = [r["text_sha"] for r in out2.collect()]
    assert len(shas) == 3 and len(set(shas)) == 3


def test_stateful_session_stream_across_runs(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): sessions close —
    and are emitted — only when a later event exceeds the gap, with the
    open session carried in the state store ACROSS runs."""
    import pandas as pd

    from weather_bigquery_lakehouse_spark.streaming.ingest import run_session_stream

    zone = tmp_path / "ev_zone"
    zone.mkdir()
    ckpt, sink = str(tmp_path / "ev_ckpt"), str(tmp_path / "ev_sink")

    def evfile(name, rows):
        data = [
            (i, int(pd.Timestamp(ts).value), 1, "click", float(v), "{}")
            for i, (ts, v) in enumerate(rows)
        ]
        spark.createDataFrame(
            data, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).write.parquet(str(zone / name))

    evfile("f1", [("2024-01-01 10:00:00", 1), ("2024-01-01 10:20:00", 2), ("2024-01-01 18:00:00", 4)])
    out1 = run_session_stream(
        spark, str(zone) + "/*", gap_seconds=6 * 3600, checkpoint_dir=ckpt, output_dir=sink
    )
    got1 = [
        (str(r["session_start"]), str(r["session_end"]), r["n_events"], r["total_value"])
        for r in out1.collect()
    ]
    # only the CLOSED session is emitted; the 18:00 session stays in state
    assert got1 == [("2024-01-01 10:00:00", "2024-01-01 10:20:00", 2, 3.0)]

    evfile("f2", [("2024-01-01 23:00:00", 8), ("2024-01-02 09:00:00", 16)])
    out2 = run_session_stream(
        spark, str(zone) + "/*", gap_seconds=6 * 3600, checkpoint_dir=ckpt, output_dir=sink
    )
    got2 = {
        (str(r["session_start"]), str(r["session_end"]), r["n_events"], r["total_value"])
        for r in out2.collect()
    }
    # run 2: 23:00 EXTENDED the open session from run 1 (state survived),
    # then 09:00 closed it. The 09:00 session remains open in state.
    assert got2 == {
        ("2024-01-01 10:00:00", "2024-01-01 10:20:00", 2, 3.0),
        ("2024-01-01 18:00:00", "2024-01-01 23:00:00", 2, 12.0),
    }


def test_watermarked_rollup_drops_late_events(spark, tmp_path):
    """Append-mode watermark contract: a window is emitted once, after the
    watermark passes its end, and events later than the watermark are
    dropped instead of mutating the emitted window."""
    import pandas as pd

    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_watermarked_rollup_stream,
    )

    zone = tmp_path / "wm_zone"
    zone.mkdir()
    ckpt, sink = str(tmp_path / "wm_ckpt"), str(tmp_path / "wm_sink")

    def evfile(name, rows):
        data = [
            (i, int(pd.Timestamp(ts).value), 1, "click", float(v), "{}")
            for i, (ts, v) in enumerate(rows)
        ]
        spark.createDataFrame(
            data, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).write.parquet(str(zone / name))

    evfile("f1", [("2024-01-01 10:05:00", 1), ("2024-01-01 10:55:00", 2), ("2024-01-01 12:30:00", 4)])
    out1 = run_watermarked_rollup_stream(
        spark, str(zone) + "/*", delay="1 hour", checkpoint_dir=ckpt, output_dir=sink
    )
    got1 = {str(r["hour_start"]): (r["n_events"], r["total_value"]) for r in out1.collect()}
    # watermark reached 11:30 → only the 10:00 window is finalized
    assert got1 == {"2024-01-01 10:00:00": (2, 3.0)}

    # a LATE event for the already-emitted 10:00 window + a fresh event
    evfile("f2", [("2024-01-01 10:10:00", 8), ("2024-01-01 14:30:00", 16)])
    out2 = run_watermarked_rollup_stream(
        spark, str(zone) + "/*", delay="1 hour", checkpoint_dir=ckpt, output_dir=sink
    )
    got2 = {str(r["hour_start"]): (r["n_events"], r["total_value"]) for r in out2.collect()}
    # late 10:10 dropped (10:00 window unchanged, not re-emitted);
    # watermark reached 13:30 → 12:00 window finalized; 14:00 still open
    assert got2 == {
        "2024-01-01 10:00:00": (2, 3.0),
        "2024-01-01 12:00:00": (1, 4.0),
    }


def test_incremental_gold_merge_across_runs(spark, tmp_path):
    """The foreachBatch MERGE must upsert per-user latest state into the
    gold snapshot across runs: run 2 (new files only, via the checkpoint)
    overwrites users it touches and leaves the rest intact."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_incremental_gold_stream,
    )

    zone = tmp_path / "events_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "gold_ckpt")
    gold = str(tmp_path / "gold_user_latest")

    def ns(s):  # seconds since epoch → EVENTS raw nanos
        return s * 1_000_000_000

    spark.createDataFrame(
        [
            (1, ns(100), 10, "signup", 1.0, "{}"),
            (2, ns(200), 10, "click", 1.0, "{}"),
            (3, ns(150), 20, "signup", 1.0, "{}"),
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).write.parquet(str(zone / "f1"))
    out1 = run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)
    got1 = {r.user_id: r.last_event_type for r in out1.collect()}
    assert got1 == {10: "click", 20: "signup"}

    spark.createDataFrame(
        [
            (4, ns(300), 10, "purchase", 9.0, "{}"),
            (5, ns(310), 30, "signup", 1.0, "{}"),
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).write.parquet(str(zone / "f2"))
    out2 = run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)
    got2 = {r.user_id: r.last_event_type for r in out2.collect()}
    # user 10 upserted, user 20 untouched, user 30 inserted
    assert got2 == {10: "purchase", 20: "signup", 30: "signup"}


def test_incremental_gold_recovers_torn_swap(spark, tmp_path):
    """A crash between the swap renames leaves gold only in '.next': the
    next run must recover the snapshot (round-3 bug: the cleanup deleted
    it and rebuilt gold from the replayed batch alone, silently dropping
    every previously merged user)."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_incremental_gold_stream,
    )

    zone = tmp_path / "events_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "gold_ckpt")
    gold = str(tmp_path / "gold_user_latest")
    ns = lambda s: s * 1_000_000_000
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"

    spark.createDataFrame(
        [(1, ns(100), 10, "signup", 1.0, "{}"), (2, ns(150), 20, "signup", 1.0, "{}")],
        schema,
    ).write.parquet(str(zone / "f1"))
    run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)

    # simulate the crash point: gold renamed aside, '.next' complete
    os.rename(gold, gold + ".next")

    spark.createDataFrame([(3, ns(300), 30, "signup", 1.0, "{}")], schema).write.parquet(
        str(zone / "f2")
    )
    out = run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)
    got = {r.user_id for r in out.collect()}
    assert got == {10, 20, 30}  # users 10/20 survived via the recovered snapshot


def test_incremental_gold_out_of_order_batch_never_regresses(spark, tmp_path):
    """A later-delivered file with OLDER events must not regress gold: the
    merge keeps the max (ts, event_type) across base AND batch."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_incremental_gold_stream,
    )

    zone = tmp_path / "events_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "gold_ckpt")
    gold = str(tmp_path / "gold_user_latest")
    ns = lambda s: s * 1_000_000_000
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"

    spark.createDataFrame([(1, ns(300), 10, "purchase", 9.0, "{}")], schema).write.parquet(
        str(zone / "f1")
    )
    run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)

    # late file: an older event for the same user arrives in a later run
    spark.createDataFrame([(2, ns(200), 10, "click", 1.0, "{}")], schema).write.parquet(
        str(zone / "f2")
    )
    out = run_incremental_gold_stream(spark, str(zone) + "/*", gold, checkpoint_dir=ckpt)
    row = out.where(F.col("user_id") == 10).first()
    assert row.last_event_type == "purchase"  # ts=300 wins over the late ts=200


def test_retired_queries_still_execute(spark, sf_dir):
    """Retired registry entries are out of the driver window but still
    part of the product surface (bench + local verification) — each must
    keep producing a well-formed result so they can't silently rot."""
    from weather_bigquery_lakehouse_spark.plans import RETIRED

    for name, spec in RETIRED.items():
        df = spec.fn(spark, sf_dir)
        n = df.count()
        assert df.columns, name
        # empty is legitimate only for pair-producing dedup queries at
        # this tiny scale factor; everything else must return rows
        if not name.startswith("dedup_"):
            assert n > 0, f"{name} returned no rows at {sf_dir}"


def test_watermarked_rollup_exactly_once_across_restart(spark, tmp_path):
    """Cross-run checkpoint contract, counting RAW sink rows (a dict-based
    check hides re-emission): a finalized window appears exactly once
    across restarts, late data never re-emits it, and a restart with no
    new files emits nothing at all."""
    import pandas as pd

    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_watermarked_rollup_stream,
    )

    zone = tmp_path / "wm2_zone"
    zone.mkdir()
    ckpt, sink = str(tmp_path / "wm2_ckpt"), str(tmp_path / "wm2_sink")

    def evfile(name, rows):
        data = [
            (i, int(pd.Timestamp(ts).value), 1, "click", float(v), "{}")
            for i, (ts, v) in enumerate(rows)
        ]
        spark.createDataFrame(
            data,
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        ).write.parquet(str(zone / name))

    def sink_rows():
        out = run_watermarked_rollup_stream(
            spark, str(zone) + "/*", delay="1 hour", checkpoint_dir=ckpt, output_dir=sink
        )
        return sorted((str(r.hour_start), r.n_events, r.total_value) for r in out.collect())

    evfile("f1", [("2024-01-01 10:05:00", 1), ("2024-01-01 12:30:00", 4)])
    got1 = sink_rows()
    assert got1 == [("2024-01-01 10:00:00", 1, 1.0)]

    # restart: late event for the emitted window + events advancing the clock
    evfile("f2", [("2024-01-01 10:10:00", 8), ("2024-01-01 12:40:00", 2),
                  ("2024-01-01 14:30:00", 16)])
    got2 = sink_rows()
    # RAW rows: 10:00 exactly once (late 10:10 dropped, no re-emission);
    # 12:00 finalized once with BOTH its events (12:30 from run 1's state,
    # 12:40 from run 2 — state survived the restart)
    assert got2 == [
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 12:00:00", 2, 6.0),
    ]

    # restart with no new input: nothing re-emitted, sink byte-identical
    assert sink_rows() == got2


def test_streaming_chunk_index_replaces_shrunken_docs_across_runs(spark, tmp_path):
    """The streamed chunk index must behave like the batch refresh across
    runs: run 2's re-landed (shrunken) doc replaces ALL its old chunks —
    no orphan chunk_idx rows — and untouched docs keep theirs."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_chunk_index_stream,
    )

    zone = tmp_path / "docs_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "ci_ckpt")
    index = str(tmp_path / "chunk_index")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    long_text = " ".join(f"w{i}" for i in range(10))  # 10 tokens → 2 chunks (6/4)
    spark.createDataFrame(
        [(1, long_text, "en", "s", 1), (2, "a b c", "en", "s", 1)], schema
    ).write.parquet(str(zone / "f1"))
    out1 = run_chunk_index_stream(
        spark, str(zone) + "/*", index, checkpoint_dir=ckpt,
        chunk_tokens=6, stride=4,
    )
    got1 = {(r.doc_id, r.chunk_idx) for r in out1.collect()}
    assert got1 == {(1, 0), (1, 1), (2, 0)}

    # doc 1 re-lands SHRUNKEN (3 tokens → 1 chunk); doc 3 is new
    spark.createDataFrame(
        [(1, "x y z", "en", "s", 1), (3, "p q", "en", "s", 1)], schema
    ).write.parquet(str(zone / "f2"))
    out2 = run_chunk_index_stream(
        spark, str(zone) + "/*", index, checkpoint_dir=ckpt,
        chunk_tokens=6, stride=4,
    )
    rows2 = {(r.doc_id, r.chunk_idx): r.chunk_text for r in out2.collect()}
    assert set(rows2) == {(1, 0), (2, 0), (3, 0)}  # (1,1) orphan gone
    assert rows2[(1, 0)] == "x y z"  # replaced content, not the old chunk
    assert rows2[(2, 0)] == "a b c"  # untouched doc intact


def test_as_stream_dir_recreates_stale_symlink(tmp_path):
    """ADVICE fix: the deterministic wrapper dir must never trust a
    pre-existing entry — a stale or foreign symlink (or a plain file) at
    the predictable path would silently become the stream source."""
    import os

    from weather_bigquery_lakehouse_spark.streaming.ingest import _as_stream_dir

    src = tmp_path / "events.parquet"
    src.write_bytes(b"payload")
    other = tmp_path / "other.parquet"
    other.write_bytes(b"foreign")

    zone = _as_stream_dir(str(src))
    link = os.path.join(zone, "events.parquet")
    assert os.readlink(link) == str(src.resolve())

    # tamper: point the link somewhere else → next call must repair it
    os.remove(link)
    os.symlink(str(other), link)
    assert _as_stream_dir(str(src)) == zone
    assert os.readlink(link) == str(src.resolve())

    # tamper: replace with a plain file → also repaired
    os.remove(link)
    with open(link, "w") as f:
        f.write("squatter")
    _as_stream_dir(str(src))
    assert os.path.islink(link) and os.readlink(link) == str(src.resolve())


def test_bounded_dedup_state_evicts_and_never_reemits(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract across runs: (a) in-horizon
    redelivery is suppressed by state, (b) out-of-horizon redelivery is
    late-dropped by the watermark (so duplicates never re-emit either
    way), and (c) the state store holds ONLY the non-evicted keys — the
    bounded-state property that distinguishes this from dropDuplicates'
    grow-forever seen-set."""
    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_bounded_dedup_stream,
    )

    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp_ntz"
    )
    zone = tmp_path / "ev_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "ev_ckpt")
    sink = str(tmp_path / "ev_sink")

    def ev(eid, hour):
        import datetime as dt

        return (eid, 7, "click", 1.0, "{}", dt.datetime(2024, 1, 1, hour))

    spark.createDataFrame([ev(1, 0), ev(2, 5)], schema).write.parquet(str(zone / "f1"))
    out1 = run_bounded_dedup_stream(
        spark, str(zone) + "/*", delay="1 hour", checkpoint_dir=ckpt, output_dir=sink
    )
    assert {r["event_id"] for r in out1.collect()} == {1, 2}
    # state after run 1: watermark = 05:00 - 1h = 04:00 → event 1's entry
    # (ts 00:00, expired at 01:00) is EVICTED; only event 2 remains
    state = spark.read.format("statestore").load(ckpt)
    assert state.count() == 1

    # run 2: event 1 redelivered out-of-horizon (late-dropped), event 2
    # redelivered in-horizon (state-suppressed), event 3 genuinely new
    spark.createDataFrame([ev(1, 0), ev(2, 5), ev(3, 6)], schema).write.parquet(
        str(zone / "f2")
    )
    out2 = run_bounded_dedup_stream(
        spark, str(zone) + "/*", delay="1 hour", checkpoint_dir=ckpt, output_dir=sink
    )
    ids = sorted(r["event_id"] for r in out2.collect())
    assert ids == [1, 2, 3]  # cumulative sink: each event exactly once


def test_session_stream_idle_timeout_closes_and_frees_state(spark, tmp_path):
    """Bounded-state sessionization (idle_close_delay): when the watermark
    passes an open session's end + gap, the timeout fires — the session
    closes and EMITS without any new event from that user, and the user's
    state slot is REMOVED. Without it (NoTimeout) a dead user's open
    session pins state forever."""
    import datetime as dt

    from weather_bigquery_lakehouse_spark.streaming.ingest import run_session_stream

    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp_ntz"
    )
    zone = tmp_path / "sess_zone"
    zone.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    sink = str(tmp_path / "sess_sink")
    kw = dict(gap_seconds=6 * 3600, checkpoint_dir=ckpt, output_dir=sink,
              idle_close_delay="1 hour")

    def ev(eid, uid, hour):
        return (eid, uid, "click", 1.0, "{}", dt.datetime(2024, 1, 1, hour))

    # run 1: user 7's session spans 00:00-01:00; user 8 is active at 20:00,
    # advancing the watermark to 19:00 > 01:00 + 6h gap — AvailableNow
    # follows the data batch with a final batch under the advanced
    # watermark, so user 7's timeout fires WITHIN the run: the session
    # emits with no further user-7 event and the state slot is freed
    spark.createDataFrame(
        [ev(1, 7, 0), ev(2, 7, 1), ev(3, 8, 20)], schema
    ).write.parquet(str(zone / "f1"))
    out1 = run_session_stream(spark, str(zone) + "/*", **kw)
    rows = {r["user_id"]: r for r in out1.collect()}
    assert set(rows) == {7}
    assert str(rows[7]["session_start"]) == "2024-01-01 00:00:00"
    assert str(rows[7]["session_end"]) == "2024-01-01 01:00:00"
    assert rows[7]["n_events"] == 2
    state = spark.read.format("statestore").load(ckpt)
    assert {r["key"]["user_id"] for r in state.collect()} == {8}

    # run 2: user 9 appears at 21:00 → watermark 20:00; user 8's timeout
    # (26:00) hasn't passed, so nothing new emits and both stay in state
    spark.createDataFrame([ev(4, 9, 21)], schema).write.parquet(str(zone / "f2"))
    out2 = run_session_stream(spark, str(zone) + "/*", **kw)
    assert {r["user_id"] for r in out2.collect()} == {7}  # cumulative sink
    state = spark.read.format("statestore").load(ckpt)
    assert {r["key"]["user_id"] for r in state.collect()} == {8, 9}


def test_interval_join_stream_matches_and_drops_late(spark, tmp_path):
    """Stream-stream interval join contract: in-window (purchase, click)
    pairs are emitted on arrival; a click older than the restored global
    watermark is dropped as late even though its batch twin would match
    (the state-boundedness trade, same as the rollup's late-drop pin)."""
    import pandas as pd

    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_interval_join_stream,
    )

    zone = tmp_path / "ivj_zone"
    zone.mkdir()
    ckpt, sink = str(tmp_path / "ivj_ckpt"), str(tmp_path / "ivj_sink")

    def evfile(name, rows):
        data = [
            (eid, int(pd.Timestamp(ts).value), uid, typ, 1.0, "{}")
            for eid, ts, uid, typ in rows
        ]
        spark.createDataFrame(
            data,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(str(zone / name))

    # P1(12:00,u1) matches C1(11:30,u1); 20:00 rows push BOTH sides'
    # watermarks (global watermark = min over sides − delay = 19:00)
    evfile(
        "f1",
        [
            (1, "2024-01-01 12:00:00", 1, "purchase"),
            (2, "2024-01-01 11:30:00", 1, "click"),
            (3, "2024-01-01 20:00:00", 2, "click"),
            (4, "2024-01-01 20:00:00", 3, "purchase"),
        ],
    )
    out1 = run_interval_join_stream(
        spark, str(zone) + "/*", delay="1 hour",
        checkpoint_dir=ckpt, output_dir=sink,
    )
    assert {(r.event_id, str(r.click_ts)) for r in out1.collect()} == {
        (1, "2024-01-01 11:30:00")
    }

    # C5(11:45,u1) would match P1 in batch but is far below the restored
    # watermark → dropped; P6/C7 (19:40/19:30, u4) are above it → emitted
    evfile(
        "f2",
        [
            (5, "2024-01-01 11:45:00", 1, "click"),
            (6, "2024-01-01 19:40:00", 4, "purchase"),
            (7, "2024-01-01 19:30:00", 4, "click"),
        ],
    )
    out2 = run_interval_join_stream(
        spark, str(zone) + "/*", delay="1 hour",
        checkpoint_dir=ckpt, output_dir=sink,
    )
    assert {(r.event_id, str(r.click_ts)) for r in out2.collect()} == {
        (1, "2024-01-01 11:30:00"),
        (6, "2024-01-01 19:30:00"),
    }


def test_interval_join_outer_emits_unmatched_on_watermark_closure(spark, tmp_path):
    """LEFT-OUTER contract: matched pairs emit as in the inner join;
    purchases with no in-window click emit NULL-padded once the click
    watermark crosses their eviction deadline (driven by the far-future
    sentinel pair, which itself must never surface). Equals the batch
    LEFT JOIN on a finite replay."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weather_bigquery_lakehouse_spark.streaming.ingest import (
        run_interval_join_outer_stream,
    )

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    rows = [
        (1, ts(12), 1, "purchase"),   # matched by click 11:30
        (2, ts(11, 30), 1, "click"),
        (3, ts(13), 2, "purchase"),   # no click for user 2 → NULL row
        (4, ts(14), 3, "click"),      # click without purchase → no row
        (5, ts(15), 1, "purchase"),   # u1's click is out of window → NULL
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.nulls(len(rows), pa.float64()),
            "props": pa.nulls(len(rows), pa.string()),
        }
    )
    src = str(tmp_path / "events_outer.parquet")
    pq.write_table(table, src)
    out = run_interval_join_outer_stream(
        spark, src, delay="1 days", window_seconds=3600
    )
    got = {(r.event_id, r.user_id, str(r.click_ts)) for r in out.collect()}
    assert got == {
        (1, 1, "2024-01-01 11:30:00"),
        (3, 2, "None"),
        (5, 1, "None"),
    }
    # the sentinels (user −1) never surface
    assert all(uid >= 0 for _e, uid, _c in got)


def test_enrich_stream_picks_up_dim_updates_between_runs(spark, tmp_path):
    """Stream-static contract: the dim is re-read per run/batch, so rows
    processed after a dim update carry the NEW attributes while already-
    emitted rows are immutable — the streaming twin of a type-1 lookup."""
    import pandas as pd

    from weather_bigquery_lakehouse_spark.streaming.ingest import run_enrich_stream

    zone = tmp_path / "en_zone"
    zone.mkdir()
    cdir, ndir = str(tmp_path / "cust"), str(tmp_path / "nat")
    ckpt, sink = str(tmp_path / "en_ckpt"), str(tmp_path / "en_sink")

    def evfile(name, eid):
        spark.createDataFrame(
            [(eid, int(pd.Timestamp("2024-01-01 10:00:00").value), 1, "click", 1.0, "{}")],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).write.parquet(str(zone / name))

    def dims(cname):
        spark.createDataFrame(
            [(1, cname, 0)], "c_custkey long, c_name string, c_nationkey long"
        ).write.mode("overwrite").parquet(cdir)
        spark.createDataFrame(
            [(0, "ARGENTINA")], "n_nationkey long, n_name string"
        ).write.mode("overwrite").parquet(ndir)

    evfile("f1", 100)
    dims("Alice")
    out1 = run_enrich_stream(
        spark, str(zone) + "/*", cdir, ndir, checkpoint_dir=ckpt, output_dir=sink
    )
    assert {(r.event_id, r.c_name) for r in out1.collect()} == {(100, "Alice")}

    evfile("f2", 200)
    dims("Alicia")  # type-1 dim update between runs
    out2 = run_enrich_stream(
        spark, str(zone) + "/*", cdir, ndir, checkpoint_dir=ckpt, output_dir=sink
    )
    assert {(r.event_id, r.c_name) for r in out2.collect()} == {
        (100, "Alice"),   # already-emitted row immutable
        (200, "Alicia"),  # new batch sees the updated dim
    }
