"""Sessionization (events/sessions.py): planted-gap correctness,
boundary semantics (exactly-gap continues), tie-break determinism,
partitioning independence, and the one-shuffle plan property."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pie_spark.events.sessions import session_stats, sessionize
from pie_spark.schemas import EVENT_SCHEMA

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(i, user, sec, typ="view", val=1.0):
    return (i, T0 + dt.timedelta(seconds=sec), user, typ, val, "{}")


# user 1: events at 0s, 10s, 700s, 705s → sessions {0,10} and {700,705}
# user 2: events at 0s, 600s (exactly gap=600 → SAME session), 1201s (new)
ROWS = [
    _ev(1, 1, 0, "view", 1.25),
    _ev(2, 1, 10, "click", 2.50),
    _ev(3, 1, 700, "view", 0.75),
    _ev(4, 1, 705, "click", 1.00),
    _ev(5, 2, 0, "view", 3.00),
    _ev(6, 2, 600, "view", 4.00),
    _ev(7, 2, 1201, "click", 5.00),
]


def _events(spark, parts=4):
    return spark.createDataFrame(ROWS, EVENT_SCHEMA).repartition(parts)


def test_planted_sessions(spark):
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_us, r.n_clicks, r.value_centi)
        for r in session_stats(sessionize(_events(spark), gap_sec=600)).collect()
    }
    assert got == {
        (1, 1): (2, 10_000_000, 1, 375),
        (1, 2): (2, 5_000_000, 1, 175),
        # exactly-gap-sized pause (600 s) continues the session
        (2, 1): (2, 600_000_000, 0, 700),
        (2, 2): (1, 0, 1, 500),
    }


def test_tie_break_on_event_id(spark):
    # two events with IDENTICAL ts: session numbering still total-ordered
    rows = [_ev(10, 7, 0), _ev(11, 7, 0), _ev(12, 7, 9999)]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    s = sessionize(df, gap_sec=600).select("event_id", "session_idx").collect()
    assert {(r.event_id, r.session_idx) for r in s} == {(10, 1), (11, 1), (12, 2)}


def test_partitioning_independent(spark):
    base = None
    for parts in (1, 7):
        got = sorted(
            tuple(r)
            for r in session_stats(sessionize(_events(spark, parts), gap_sec=600)).collect()
        )
        if base is None:
            base = got
        else:
            assert got == base


def test_single_exchange_plan(spark):
    """Both window passes and the rollup must share ONE user_id hash
    partition — the same exchange-reuse discipline as the T3 merge
    windows (extra exchanges would shuffle the event stream twice at
    10^12 events)."""
    df = session_stats(sessionize(_events(spark), gap_sec=600))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count exchanges excluding the test harness's own repartition(4)
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 2, plan  # 1 = the repartition input, 1 = user_id
    assert "Exchange rangepartitioning" not in plan


# ---- streaming twin (streaming/sessions.py) ----

def _write_chunks(spark, tmp):
    """Three chronologically-named event files; user 1's second session
    and user 2's first session each SPAN a file boundary, so state must
    carry across micro-batches for parity to hold."""
    import os
    chunks = [ROWS[:3], ROWS[3:5], ROWS[5:]]
    d = os.path.join(tmp, "events")
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"chunk-{i:03d}"))
    return os.path.join(d, "chunk-*")


def test_stream_equals_batch(spark, tmp_path):
    from pie_spark.streaming.sessions import latest_sessions, stream_sessions

    src = _write_chunks(spark, str(tmp_path))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_sessions(spark, src, out, ckpt, gap_sec=600, max_files_per_trigger=1)

    batch = sorted(
        tuple(r)
        for r in session_stats(sessionize(_events(spark), gap_sec=600))
        .select(
            "user_id", "session_idx", "n_events", "start_us", "end_us",
            "duration_us", "n_clicks", "value_centi",
        )
        .collect()
    )
    streamed = sorted(tuple(r) for r in latest_sessions(spark, out).collect())
    assert streamed == batch

    # idempotent re-drain: nothing new to read, result unchanged
    stream_sessions(spark, src, out, ckpt, gap_sec=600, max_files_per_trigger=1)
    assert sorted(tuple(r) for r in latest_sessions(spark, out).collect()) == batch


def test_stream_session_spans_batches(spark, tmp_path):
    """The boundary-crossing proof: with one file per micro-batch, the
    (4, 705s) event lands in a LATER batch than (3, 700s) yet both must
    be one session — only cross-batch keyed state can do that."""
    from pie_spark.streaming.sessions import latest_sessions, stream_sessions

    src = _write_chunks(spark, str(tmp_path))
    stream_sessions(
        spark, src, str(tmp_path / "o2"), str(tmp_path / "c2"),
        gap_sec=600, max_files_per_trigger=1,
    )
    got = {
        (r.user_id, r.session_idx): r.n_events
        for r in latest_sessions(spark, str(tmp_path / "o2")).collect()
    }
    assert got[(1, 2)] == 2  # events 3 (chunk-1) + 4 (chunk-2)
    assert got[(2, 1)] == 2  # events 5 (chunk-1) + 6 (chunk-2)
