"""Streaming sessionization — the stateful-streaming twin of
events/sessions.py (W5), via ``applyInPandasWithState``.

Batch sessionization re-scans the whole event log per run; on a
continuously-fed landing zone the session state must carry ACROSS
micro-batches: a session that straddles two drains is one session.
Keyed state per user holds exactly the OPEN session's aggregate —
(next idx, start, last-event ts, counts, value) — fixed width, one
row per active user, so the state store is bounded by concurrent
users, never by history (closed sessions leave state immediately).

Per batch, per user (Arrow-batched, sorted by (ts_us, event_id) inside
the function — intra-batch order is not guaranteed by the shuffle):
fold events into the open session, CLOSING it whenever a gap exceeds
``gap_sec`` (strictly greater — the exact batch rule). Every session
TOUCHED this batch is emitted: closed sessions are final; the still-
open session is emitted provisionally and superseded by a later epoch
(latest-epoch-wins, resolved by :func:`latest_sessions` — drain.py's
per-epoch overwrite dirs + latest-epoch-per-key read, so replayed
epochs stay idempotent and a crash between write and commit re-emits
identical rows).

Parity contract (pinned stream ≡ batch in tests/test_sessions.py):
after any full drain, ``latest_sessions()`` equals
``session_stats(sessionize(all events so far))`` EXACTLY — every
boundary, every integer micro/centi sum — provided each user's events
arrive in event-time order ACROSS batches (within a batch any order
is fine). The landing-zone ingest appends chronologically-named files
and ``maxFilesPerTrigger`` drains them in order, so the contract holds
by construction there; a violating late event would open a fresh
session rather than rewriting a closed one (the standard no-reprocess
semantics of event-time systems — same stance as the watermark mode of
streaming/dedup.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pie_spark.schemas import EVENT_SCHEMA
from pie_spark.streaming.drain import drain, epoch_sink, latest_per_key, read_stream

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("duration_us", LongType()),
        StructField("n_clicks", LongType()),
        StructField("value_centi", LongType()),
    ]
)
# open session carried across batches: idx, start, last ts, aggregates
STATE_SCHEMA = StructType(
    [
        StructField("idx", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("n_clicks", LongType()),
        StructField("value_centi", LongType()),
    ]
)


def _make_update(gap_us: int):
    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        user = key[0]
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values(["ts_us", "event_id"], kind="mergesort")
        if state.exists:
            idx, start, last, n, clicks, centi = state.get
        else:
            idx = start = last = n = clicks = centi = None
        out = []
        for ts, click, cent in zip(
            ev["ts_us"].to_numpy(), ev["is_click"].to_numpy(), ev["centi"].to_numpy()
        ):
            ts, click, cent = int(ts), int(click), int(cent)
            if idx is None:
                idx, start, last, n, clicks, centi = 1, ts, ts, 1, click, cent
            elif ts - last > gap_us:
                out.append((idx, start, last, n, clicks, centi))  # closed
                idx, start, last, n, clicks, centi = idx + 1, ts, ts, 1, click, cent
            else:
                last, n, clicks, centi = ts, n + 1, clicks + click, centi + cent
        state.update((idx, start, last, n, clicks, centi))
        out.append((idx, start, last, n, clicks, centi))  # open, provisional
        yield pd.DataFrame(
            {
                "user_id": [user] * len(out),
                "session_idx": [o[0] for o in out],
                "n_events": [o[3] for o in out],
                "start_us": [o[1] for o in out],
                "end_us": [o[2] for o in out],
                "duration_us": [o[2] - o[1] for o in out],
                "n_clicks": [o[4] for o in out],
                "value_centi": [o[5] for o in out],
            }
        )

    return update


def stream_sessions(
    spark: SparkSession,
    events_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_sec: int,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain newly-landed event parquet files, maintaining per-user
    open-session state across micro-batches; per-epoch overwrite dirs
    make replays idempotent (exactly-once via latest-epoch-wins)."""
    stream = read_stream(spark, EVENT_SCHEMA, events_dir, max_files_per_trigger)
    # identical pre-quantization to the batch twin: integer micros,
    # centi-units floated once per row (events/sessions.py discipline)
    keyed = stream.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_click"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("centi"),
    )
    sessions = keyed.groupBy("user_id").applyInPandasWithState(
        _make_update(int(gap_sec) * 1_000_000),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    drain(sessions, checkpoint_dir, epoch_sink(output_dir))


def latest_sessions(spark: SparkSession, output_dir: str) -> DataFrame:
    """Each (user, session_idx)'s most recent emission across committed
    epochs — closed sessions are stable, the open session's row is its
    latest provisional aggregate. After a full in-order drain this is
    value-identical to the batch twin's ``session_stats``."""
    return latest_per_key(spark, output_dir, ["user_id", "session_idx"])
