"""Streaming event analytics over the ``events`` table.

The batch twins live in ``queries/events.py`` and ``queries/windows.py``;
pytest asserts stream output == batch output on the same files (the
exactly-once file-source model makes that comparison exact).

Design notes for the 100 TB / continuous case:
  * file source + ``availableNow`` gives incremental backfill with the
    same code that runs ``processingTime`` triggers in production;
  * watermarks bound state: 2 hours on 1-hour tumbling windows means a
    window's state is dropped once the event-time high-water-mark passes
    window_end + 2h;
  * sessionization uses ``applyInPandasWithState`` — the custom stateful
    operator escape hatch (SURVEY §2.10) — with per-user state carrying
    the open session and an *event-time* timeout: a session closes when
    the watermark passes its last event + gap. Event-time timeouts are
    deterministic (driven by data, not wall clock), so ``availableNow``
    backfills terminate and replays are reproducible — a wall-clock
    (processing-time) timeout would keep the query alive waiting for
    timers and make emitted sessions depend on scheduling.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from codex_data_products_spark.streaming.logstate import available_now

# events.parquet has shipped ts as both TIMESTAMP(NANOS) (read as long +
# convert) and TIMESTAMP(MICROS, ntz); probe the footer once and build
# the matching stream schema, mirroring tables.table("events").
_EVENTS_SCHEMA_FMT = (
    "event_id long, ts {ts_type}, user_id long, event_type string, "
    "value double, props string"
)

SESSION_GAP_SECONDS = 1800


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stored = (
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    )
    nanos_as_long = isinstance(stored, LongType)
    schema = _EVENTS_SCHEMA_FMT.format(
        ts_type="long" if nanos_as_long else "timestamp_ntz"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos_as_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _window_counts(events: DataFrame, watermark: str, window, *keys: str):
    return (
        events.withWatermark("ts", watermark)
        .groupBy(window, *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            *keys,
            "n_events",
            "total_value",
        )
    )


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/events.events_tumbling_window."""
    return _window_counts(
        events, watermark, F.window("ts", "1 hour"), "event_type"
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/events.events_sliding_window: 1-hour
    windows sliding every 30 minutes (each event lands in 2 windows)."""
    return _window_counts(
        events, watermark, F.window("ts", "1 hour", "30 minutes")
    )


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id.

    ``dropDuplicatesWithinWatermark`` keeps the dedup state bounded: an
    id is remembered only until the watermark passes its event time +
    the delay, instead of growing state forever like a global
    ``dropDuplicates`` would on an unbounded stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start string, session_end string"
)
SESSION_STATE_SCHEMA = "open_start long, open_end long, open_n long, next_id long"


def _sessionize_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionizer.

    State carries the open (possibly still-growing) session across
    micro-batches; closed sessions are emitted as soon as a gap larger
    than SESSION_GAP_SECONDS is observed. The open session is closed and
    emitted when the watermark passes its end + gap (event-time timeout),
    after which the user's state is dropped — state size is O(users with
    activity inside the watermark horizon), not O(all users ever seen).
    """
    (user_id,) = key
    ts_us: list[int] = []
    for pdf in batches:
        ts_us.extend(int(t.value // 1000) for t in pdf["ts"])

    if state.hasTimedOut:
        if state.exists:
            open_start, open_end, open_n, next_id = state.get
            state.remove()
            yield _session_row(user_id, next_id, open_n, open_start, open_end)
        return

    ts_us.sort()
    if state.exists:
        open_start, open_end, open_n, next_id = state.get
    else:
        open_start = open_end = -1
        open_n = 0
        next_id = 1

    out: list[pd.DataFrame] = []
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    for t in ts_us:
        if open_n == 0:
            open_start, open_end, open_n = t, t, 1
        elif t - open_end > gap_us:
            out.append(
                _session_row(user_id, next_id, open_n, open_start, open_end)
            )
            next_id += 1
            open_start, open_end, open_n = t, t, 1
        else:
            open_end = t
            open_n += 1
    state.update((open_start, open_end, open_n, next_id))
    # Close the open session once event time moves past its end + gap.
    # The timestamp must be beyond the current watermark; the +gap bound
    # guarantees that (events below the watermark were already dropped).
    state.setTimeoutTimestamp(open_end // 1000 + SESSION_GAP_SECONDS * 1000)
    yield from out


def _session_row(
    user_id: int, session_id: int, n: int, start_us: int, end_us: int
) -> pd.DataFrame:
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_id": [session_id],
            "n_events": [n],
            "session_start": [
                pd.Timestamp(start_us * 1000).strftime(fmt)
            ],
            "session_end": [pd.Timestamp(end_us * 1000).strftime(fmt)],
        }
    )


def sessionize_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: gap-based sessions per user
    (applyInPandasWithState, the batch twin is queries/windows.sessionize)."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> Any:
    """Execute a streaming frame to completion against current files
    (availableNow) into an in-memory table; returns the query handle."""
    return available_now(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )


ANOMALY_OUTPUT_SCHEMA = (
    "event_id long, event_type string, value double, zscore double"
)
# exact integer state: value cents and squared-cents sums never lose
# precision, so a single-batch drain reproduces the batch query's
# decimal-sum statistics bit-for-bit
ANOMALY_STATE_SCHEMA = "n long, s1_cents long, s2_cents2 long"

ANOMALY_Z = 2.5


def _anomaly_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type running statistics + z-score flagging.

    State accumulates exact (n, Σcents, Σcents²); each batch updates the
    state first, then flags its own rows against the updated statistics —
    so on an availableNow backfill (one batch) the output equals the
    batch events_anomaly query exactly.
    """
    (event_type,) = key
    if state.hasTimedOut:  # pragma: no cover - no timeout configured
        state.remove()
        return

    n, s1, s2 = state.get if state.exists else (0, 0, 0)
    frames = []
    for pdf in batches:
        cents = (pdf["value"] * 100).round().astype("int64")
        n += int(len(pdf))
        s1 += int(cents.sum())
        s2 += int((cents * cents).sum())
        frames.append(pdf)
    state.update((n, s1, s2))
    if n < 2:
        return

    import math

    s1d = (s1 / 100.0)
    s2d = (s2 / 10000.0)
    mean = s1d / n
    var = s2d / n - mean * mean
    if var <= 0:
        return
    sd = math.sqrt(var)
    for pdf in frames:
        z = ((pdf["value"] - mean) / sd).round(6)
        hit = z.abs() > ANOMALY_Z
        if hit.any():
            out = pdf.loc[hit, ["event_id", "value"]].copy()
            out["event_type"] = event_type
            out["zscore"] = z[hit]
            yield out[["event_id", "event_type", "value", "zscore"]]


def anomaly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator #2: streaming z-score anomaly flagging
    with exact running moments per event_type (batch twin:
    queries/events.events_anomaly)."""
    return (
        events.select("event_id", "event_type", "value", "ts")
        .withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _anomaly_group,
            outputStructType=ANOMALY_OUTPUT_SCHEMA,
            stateStructType=ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def attribution_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: views→purchases within 30 minutes.

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so Spark derives a state-retention horizon for
    each side (a view is held only until the watermark passes its ts +
    30 min; purchases need no buffered future rows). Without the range
    bound the join state would grow without limit on an unbounded
    stream. Batch twin: ``queries/events.events_attribution``.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )


def attribution_outer_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every purchase, with its
    attributed view when one exists within 30 minutes, else NULL.

    The outer semantics are the hard part of streaming joins: a
    null-match row can only be emitted once the view-side watermark has
    passed the purchase's ts (no earlier view can still arrive), so
    unmatched purchases surface with watermark latency while matches
    stream out immediately. State retention is identical to the inner
    form — the range bound gives both sides an eviction horizon.

    Batch parity (pinned by the test): an availableNow drain emits
    exactly the batch left-join restricted to purchases older than the
    final watermark (max ts − delay) for null rows; purchases newer
    than that are still held in state when the query terminates, which
    is the semantically-correct answer, not a loss.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("purchase_id", "view_id", "user_id")


def enrich_stream(
    events: DataFrame, user_profile: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static join: enrich live events with a batch-computed user
    profile (historical mean spend per user).

    Stream-static joins keep NO state — each micro-batch hash-joins
    against the static side, which Spark re-plans per batch (so a
    refreshed profile table is picked up automatically). On a cluster
    the static side is broadcast when small; profiles at user-dimension
    scale stay a shuffle-free broadcast. Output: events whose value
    exceeds 2× the user's historical mean — a cheap per-user spike
    detector that composes with `anomaly_stream`'s exact z-scores.
    """
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(user_profile), "user_id")
        .filter(F.col("value") > 2 * F.col("mean_value"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "mean_value",
        )
    )


def user_profile_frame(events_batch: DataFrame) -> DataFrame:
    """Static side for enrich_stream: exact-decimal per-user mean."""
    dec = F.col("value").cast("decimal(12,2)")
    return events_batch.groupBy("user_id").agg(
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_value"
        )
    )


def cms_stream(items: DataFrame, item_col: str) -> DataFrame:
    """Continuously-maintained Count-Min sketch: the same d×w cell
    aggregation as the batch ``operators.sketches.cms_build``, kept
    incrementally by Structured Streaming (update/complete mode). The
    sketch state is bounded at d·w rows FOREVER — the streaming
    frequency tracker whose memory does not grow with the item stream,
    which is the whole reason to sketch. Probing a snapshot uses the
    batch ``cms_estimate`` unchanged."""
    from codex_data_products_spark.operators.sketches import (
        CMS_SEEDS,
        CMS_W,
        _cms_cell,
    )

    cells = items.select(
        F.posexplode(
            F.array(
                *[_cms_cell(F.col(item_col), s, CMS_W) for s in CMS_SEEDS]
            )
        ).alias("d", "cell")
    )
    return cells.groupBy("d", "cell").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# scd2_stream — continuous SCD type-2 maintenance: per-user state holds
# the OPEN validity interval (current event_type, valid_from, count);
# each observed type change closes it and appends the finished row.
# The batch twin is queries/events.events_scd2 — a single availableNow
# drain reproduces exactly its closed (NOT is_current) intervals, while
# the open interval lives in state awaiting the next change. State is
# one fixed-width row per user.
#
# ORDERED-ARRIVAL ASSUMPTION: rows are sorted by (ts, event_id) WITHIN
# each micro-batch only. An in-watermark event that arrives in a LATER
# batch with ts earlier than the open interval's valid_from is folded
# as if it occurred after it (intervals can disagree with the batch
# twin, even valid_to < valid_from). Batch-equivalence therefore holds
# for a single ordered availableNow drain — the mode the parity test
# exercises — not for arbitrarily interleaved late arrivals. The
# watermark-honoring variant is ``scd2_stream_buffered`` below, which
# buffers rows newer than the watermark in state and folds only
# matured rows — correct for any in-watermark interleaving at the cost
# of a variable-width per-user buffer; this fixed-width-state operator
# stays for strictly ordered feeds.
# ---------------------------------------------------------------------------

SCD2_OUTPUT_SCHEMA = (
    "user_id long, event_type string, valid_from string, "
    "valid_to string, n_events long"
)
SCD2_STATE_SCHEMA = "cur_type string, from_us long, n long"

_SCD2_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _scd2_rows(batches: Iterator[pd.DataFrame]) -> list[tuple[int, int, str]]:
    """(ts_us, event_id, event_type) of every row in the group's batches."""
    rows: list[tuple[int, int, str]] = []
    for pdf in batches:
        rows.extend(
            (int(t.value // 1000), int(eid), str(et))
            for t, eid, et in zip(pdf["ts"], pdf["event_id"], pdf["event_type"])
        )
    return rows


def _scd2_fold(
    user_id, rows: list[tuple[int, int, str]], cur_type, from_us: int, n: int
) -> tuple[list[pd.DataFrame], tuple]:
    """Fold time-ordered rows into the open interval (cur_type,
    from_us, n): returns the intervals they close and the new open
    interval."""
    closed: list[pd.DataFrame] = []
    for ts_us, _eid, etype in rows:
        if cur_type is None:
            cur_type, from_us, n = etype, ts_us, 1
        elif etype != cur_type:
            closed.append(
                pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "event_type": [cur_type],
                        "valid_from": [
                            pd.Timestamp(from_us * 1000).strftime(_SCD2_FMT)
                        ],
                        "valid_to": [
                            pd.Timestamp(ts_us * 1000).strftime(_SCD2_FMT)
                        ],
                        "n_events": [n],
                    }
                )
            )
            cur_type, from_us, n = etype, ts_us, 1
        else:
            n += 1
    return closed, (cur_type, from_us, n)


def _scd2_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    rows = sorted(_scd2_rows(batches))
    start = state.get if state.exists else (None, -1, 0)
    closed, interval = _scd2_fold(user_id, rows, *start)
    state.update(interval)
    yield from closed


def scd2_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: continuous SCD type-2 interval builds
    per user (applyInPandasWithState; batch twin
    queries/events.events_scd2). Assumes in-order arrival across
    batches — see the ORDERED-ARRIVAL ASSUMPTION note above."""
    return (
        events.select("user_id", "event_id", "ts", "event_type")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_group,
            outputStructType=SCD2_OUTPUT_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# scd2_stream_buffered — the watermark-honoring SCD-2 variant: rows
# newer than the current watermark are BUFFERED in state and only rows
# at or below the watermark are folded into intervals, in global
# (ts, event_id) order. This removes scd2_stream's ordered-arrival
# assumption: an in-watermark late event that lands in a later
# micro-batch is slotted into its true timeline position before any
# interval spanning it is closed — the batch twin's output is
# reproduced for ANY arrival interleaving, at the cost of a variable-
# width buffer per user (bounded by the user's event rate × watermark
# delay, the same bound every watermarked stateful operator carries).
# ---------------------------------------------------------------------------

SCD2B_STATE_SCHEMA = (
    "cur_type string, from_us long, n long, "
    "buf_ts array<long>, buf_id array<long>, buf_type array<string>"
)


def _scd2_buffered_group(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    rows = _scd2_rows(batches)
    if state.exists:
        cur_type, from_us, n, b_ts, b_id, b_type = state.get
        rows.extend(
            (int(t), int(i), str(e))
            for t, i, e in zip(b_ts or [], b_id or [], b_type or [])
        )
    else:
        cur_type, from_us, n = None, -1, 0
    rows.sort()
    wm_us = state.getCurrentWatermarkMs() * 1000
    mature = [r for r in rows if r[0] <= wm_us]
    pending = [r for r in rows if r[0] > wm_us]

    closed, (cur_type, from_us, n) = _scd2_fold(
        user_id, mature, cur_type, from_us, n
    )
    state.update(
        (
            cur_type,
            from_us,
            n,
            [t for t, _, _ in pending],
            [i for _, i, _ in pending],
            [e for _, _, e in pending],
        )
    )
    if pending:
        # re-invoke this group (even with no new rows) once the
        # watermark reaches the earliest buffered event, so buffered
        # rows mature on watermark progress alone; the timestamp must
        # exceed the current watermark, hence the max()
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(pending[0][0] // 1000, wm_ms + 1))
    yield from closed


def scd2_stream_buffered(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """SCD-2 maintenance that is correct under out-of-order arrival up
    to the watermark delay (see the buffered-variant note above).
    Event-time timeouts re-invoke a group when the watermark passes its
    earliest buffered row, so maturation does not depend on new data
    arriving for that key."""
    return (
        events.select("user_id", "event_id", "ts", "event_type")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_buffered_group,
            outputStructType=SCD2_OUTPUT_SCHEMA,
            stateStructType=SCD2B_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
