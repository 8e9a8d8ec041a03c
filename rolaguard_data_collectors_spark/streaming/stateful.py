"""Streaming stateful operators (SURVEY.md §2A ops 34-38) — the real
``applyInPandasWithState`` implementations whose column-level semantics
are pinned by the oracle-checked batch shadows in
``operators/stateful.py``. ``tests/test_streaming.py`` feeds the
same events data through both and asserts equality.

Arrival order: the reference processes messages in connection arrival
order; micro-batches deliver a group's rows unordered, so every
operator sorts its batch by ``(ts, event_id)`` — the explicit sequence
the sources emit (SURVEY.md §7 "what's hard" (a)). Order across
micro-batches is guaranteed by batch sequencing; order within a key's
batch is restored by the sort. At 100 TB scale each operator is one
hash shuffle on its state key; state per key is O(1) (a handful of
scalars), so state-store size grows with key cardinality only.

State width: Spark runs micro-batches without AQE, so that shuffle's
width, and the operator's state-store partition count, is
``spark.sql.shuffle.partitions`` at the query's first start, kept by its
checkpoint. The engine's session sets it to 1, sized for its
per-collector queries; an events stream with many users per query
widens its state by setting ``spark.sql.shuffle.partitions`` (for
example through ``get_spark(extra_conf=...)``) before its first start.

Ops 34-36 emit in append mode (each input row resolves immediately);
op 37 (running counters) and op 38 (change detection) emit in update
mode. Op 37 carries the reference's 600 s verification timeout via
ProcessingTimeTimeout (BaseCollector.py:43-53).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import EVENT_PROPS_SCHEMA

_ORDER = ["ts", "event_id"]


def _sorted_rows(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    # na_position='first': the arrival-order spec is ORDER BY ts NULLS
    # FIRST, event_id (operators/stateful.py _ARRIVAL — Spark windows
    # and min(struct) put NULL timestamps first); pandas defaults to
    # NaT LAST, which diverged stream from batch on unstamped rows
    # (round-7 review find).
    return pd.concat(chunks).sort_values(_ORDER, na_position="first")


def prepare_events_stream(events: DataFrame) -> DataFrame:
    """Project a raw events frame (streaming or batch) to the columns
    the stateful ops consume; json k -> f_count (op 11)."""
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.from_json("props", EVENT_PROPS_SCHEMA).getField("k").alias("f_count"),
    )


# --- op 34: prev-packet as-of correlation (1-row buffer) ------------------

_PREV_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("f_count", T.IntegerType()),
        T.StructField("gw_value", T.DoubleType()),
        T.StructField("merged", T.BooleanType()),
    ]
)
_PREV_STATE = T.StructType(
    [
        T.StructField("prev_type", T.StringType()),
        T.StructField("prev_fcnt", T.IntegerType()),
        T.StructField("prev_val", T.DoubleType()),
        T.StructField("has_prev", T.BooleanType()),
    ]
)


def _prev_packet_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """LoraServerIOCollector.py:368-448: a 1-row buffer holds the last
    message; the next message merges iff frame counters match (:415)."""
    pdf = _sorted_rows(pdfs)
    if pdf is None:
        return
    prev_type, prev_fcnt, prev_val, has_prev = (
        state.get if state.exists else (None, None, None, False)
    )
    out: list[dict[str, Any]] = []
    for r in pdf.itertuples(index=False):
        fcnt = None if pd.isna(r.f_count) else int(r.f_count)
        merged = bool(
            has_prev
            and r.event_type == "purchase"
            and prev_type == "click"
            and prev_fcnt == fcnt  # None == None counts as a match
        )
        out.append(
            {
                "event_id": r.event_id,
                "user_id": r.user_id,
                "f_count": fcnt,
                "gw_value": round(prev_val, 2) if merged and prev_val is not None else None,
                "merged": merged,
            }
        )
        prev_type = r.event_type
        prev_fcnt = fcnt
        prev_val = None if pd.isna(r.value) else float(r.value)
        has_prev = True
    state.update((prev_type, prev_fcnt, prev_val, has_prev))
    yield pd.DataFrame(out)


def prev_packet_correlation_stream(events: DataFrame) -> DataFrame:
    return prepare_events_stream(events).groupBy("user_id").applyInPandasWithState(
        _prev_packet_fn, _PREV_OUT, _PREV_STATE, "append", GroupStateTimeout.NoTimeout
    )


# --- op 35: devices_map upsert + enrich -----------------------------------

_DEVMAP_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("dev_registration", T.IntegerType()),
    ]
)
_DEVMAP_STATE = T.StructType([T.StructField("registration", T.IntegerType())])


def _device_map_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """LoraServerIOCollector.py:285-304 (upsert), :380-387 (enrich):
    signup upserts the registration; every row reads the latest value
    at-or-before itself."""
    pdf = _sorted_rows(pdfs)
    if pdf is None:
        return
    (reg,) = state.get if state.exists else (None,)
    out = []
    for r in pdf.itertuples(index=False):
        if r.event_type == "signup" and not pd.isna(r.f_count):
            reg = int(r.f_count)
        out.append(
            {"event_id": r.event_id, "user_id": r.user_id, "dev_registration": reg}
        )
    state.update((reg,))
    yield pd.DataFrame(out)


def device_map_enrich_stream(events: DataFrame) -> DataFrame:
    return prepare_events_stream(events).groupBy("user_id").applyInPandasWithState(
        _device_map_fn, _DEVMAP_OUT, _DEVMAP_STATE, "append", GroupStateTimeout.NoTimeout
    )


# --- op 36: last-known-location attach + reset ----------------------------

_LOC_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("latitude", T.DoubleType()),
    ]
)
_LOC_STATE = T.StructType([T.StructField("latitude", T.DoubleType())])


def _location_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """TTNCollector.py:202-211 (capture), :241-247 (attach to the next
    packet, then reset)."""
    pdf = _sorted_rows(pdfs)
    if pdf is None:
        return
    (loc,) = state.get if state.exists else (None,)
    out = []
    for r in pdf.itertuples(index=False):
        if r.event_type == "error":
            loc = None if pd.isna(r.value) else round(float(r.value), 2)
        elif r.event_type == "purchase":
            out.append({"event_id": r.event_id, "user_id": r.user_id, "latitude": loc})
            loc = None  # consumed (reset, :247)
    state.update((loc,))
    yield pd.DataFrame(out, columns=["event_id", "user_id", "latitude"])


def location_propagation_stream(events: DataFrame) -> DataFrame:
    return prepare_events_stream(events).groupBy("user_id").applyInPandasWithState(
        _location_fn, _LOC_OUT, _LOC_STATE, "append", GroupStateTimeout.NoTimeout
    )


# --- op 37: verification-ratio gate (+600 s timeout) ----------------------

_VERIFY_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_packets", T.LongType()),
        T.StructField("verified_packets", T.LongType()),
        T.StructField("verified", T.BooleanType()),
        T.StructField("timed_out", T.BooleanType()),
    ]
)
_VERIFY_STATE = T.StructType(
    [
        T.StructField("total", T.LongType()),
        T.StructField("ok", T.LongType()),
    ]
)

VERIFY_TIMEOUT_MS = 600_000  # BaseCollector.py:12 (600 s)


def _verify_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """BaseCollector.py:85-110: running total/verified counters;
    verified when total >= 5 and ratio > 0.8; 600 s without
    verification -> FAILED_VERIFY (:43-53)."""
    if state.hasTimedOut:
        total, ok = state.get if state.exists else (0, 0)
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "total_packets": total,
                    "verified_packets": ok,
                    "verified": False,
                    "timed_out": True,
                }
            ]
        )
        return
    pdf = _sorted_rows(pdfs)
    if pdf is None:
        return
    total, ok = state.get if state.exists else (0, 0)
    total += len(pdf)
    ok += int((pdf["value"] <= 100).sum())
    state.update((total, ok))
    try:
        state.setTimeoutDuration(VERIFY_TIMEOUT_MS)
    except Exception:
        pass  # NoTimeout mode: timer not armed
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "total_packets": total,
                "verified_packets": ok,
                "verified": bool(total >= 5 and ok / total > 0.8),
                "timed_out": False,
            }
        ]
    )


def verification_gate_stream(events: DataFrame, with_timeout: bool = False) -> DataFrame:
    """``with_timeout=True`` arms the 600 s FAILED_VERIFY timer
    (production ops path). Off by default: processing-time timers make
    the engine run timer-evaluation batches continuously, which never
    settles under ``processAllAvailable`` in finite tests/backfills."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if with_timeout
        else GroupStateTimeout.NoTimeout
    )
    return prepare_events_stream(events).groupBy("user_id").applyInPandasWithState(
        _verify_fn, _VERIFY_OUT, _VERIFY_STATE, "update", timeout
    )


# --- op 38: connection-status change detection ----------------------------

_STATUS_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("prev_status", T.StringType()),
    ]
)
_STATUS_STATE = T.StructType([T.StructField("prev", T.StringType())])


def _status_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Orchestrator.py:88-135: emit only when the status differs from
    the previously seen value."""
    pdf = _sorted_rows(pdfs)
    if pdf is None:
        return
    (prev,) = state.get if state.exists else (None,)
    out = []
    for r in pdf.itertuples(index=False):
        if prev is None or prev != r.event_type:
            out.append(
                {
                    "event_id": r.event_id,
                    "user_id": r.user_id,
                    "status": r.event_type,
                    "prev_status": prev,
                }
            )
        prev = r.event_type
    state.update((prev,))
    yield pd.DataFrame(out, columns=["event_id", "user_id", "status", "prev_status"])


def status_change_detection_stream(events: DataFrame) -> DataFrame:
    return prepare_events_stream(events).groupBy("user_id").applyInPandasWithState(
        _status_fn, _STATUS_OUT, _STATUS_STATE, "update", GroupStateTimeout.NoTimeout
    )


# --- event-time windows + streaming dedup (§2B) ---------------------------
#
# NULL event-time boundary: everything below is WATERMARKED, and
# Spark drops rows whose event time is NULL before a watermarked
# aggregate (the analyzer injects Filter isnotnull(ts) under
# EventTimeWatermark — verified against the compiled plan). The batch
# shadows keep NULL-ts rows as ordinary GROUP BY groups — so on
# unstamped rows the watermarked streams are deliberately a SUBSET of
# their shadows. The keyed state twins above carry no watermark and
# match their shadows row-for-row on NULL ts (NULLS FIRST arrival,
# _sorted_rows). In the composed pipelines every event time is stamped
# at normalize (date/tmst derive from the transport envelope), so the
# boundary only surfaces on hand-built corpora.


def tumbling_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """window(ts, '1 hour') + watermark — streaming analog of the
    oracle-checked ``tumbling_window_hourly`` batch shadow."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "3 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_windows_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """session_window(ts, gap) — streaming analog of
    ``sessionize_gap30m``."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type) — the
    streaming first-arrival dedup whose batch shadow is
    ``dedup_first_arrival``."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
