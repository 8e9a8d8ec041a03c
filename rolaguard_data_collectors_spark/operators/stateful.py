"""Stateful operator batch-shadows (SURVEY.md §2A ops 34-38).

The reference's stateful enrichment is arrival-order keyed state in
Python dicts (prev_packet buffer, devices_map, last gateway location,
verification counters, status-change dedup). Each op is re-expressed
here as deterministic window/aggregate plans over the ``events``
table ordered by (ts, event_id) — the batch shadow the DuckDB oracle
can check. The streaming layer (streaming/stateful.py) implements the
same semantics with applyInPandasWithState over an unbounded stream;
these column-level definitions are the spec both must satisfy.

Role mapping (events -> packet stream):
  click/view/purchase = data packets, signup = /join device
  registration, error = gateway status carrying a location payload.

Scale note: every query partitions by a key (user_id) before any
window sort — at 100 TB this is one hash shuffle on the state key,
the same layout applyInPandasWithState needs, and skew on a hot
device is bounded by per-key data, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import QuerySpec
from ..schemas import EVENT_PROPS_SCHEMA


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# Deterministic arrival order within a key. Spark's ascending window
# order puts NULL timestamps FIRST (so does min(struct(ts, ...)) —
# NULL is the smallest struct field value); every oracle over this
# order spells ORDER BY ts NULLS FIRST explicitly, because DuckDB's
# default is NULLS LAST (round-7 NULL-ts fuzz find).
_ARRIVAL = ["ts", "event_id"]


# --- op 34: prev-packet as-of correlation join ---------------------------


def prev_packet_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChirpStack gateway+application merge
    (LoraServerIOCollector.py:368-448): a 1-row buffer holds the
    previous message; the next message merges with it iff the frame
    counters match (:415 ``f_count ==``). Shadow: each event looks at
    the immediately-preceding event of its user (lag = the buffer);
    a purchase merges the buffered click's value when both carry the
    same counter k."""
    ev = _events(spark, sf_dir)
    k = F.from_json("props", EVENT_PROPS_SCHEMA).getField("k")
    w = Window.partitionBy("user_id").orderBy(*_ARRIVAL)
    ev = ev.select("event_id", "user_id", "ts", "event_type", "value", k.alias("f_count"))
    prev_type = F.lag("event_type").over(w)
    prev_fcnt = F.lag("f_count").over(w)
    prev_val = F.lag("value").over(w)
    merged = (
        (F.col("event_type") == "purchase")
        & (prev_type == "click")
        & prev_fcnt.eqNullSafe(F.col("f_count"))
    )
    return ev.select(
        "event_id",
        "user_id",
        "f_count",
        F.when(merged, F.round(prev_val, 2)).alias("gw_value"),
        merged.cast("boolean").alias("merged"),
    )


PREV_PACKET_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, ts, event_type, value,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS f_count
  FROM events
), w AS (
  SELECT *,
         lag(event_type) OVER win AS prev_type,
         lag(f_count) OVER win AS prev_fcnt,
         lag(value) OVER win AS prev_val
  FROM t
  WINDOW win AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
)
SELECT event_id, user_id, f_count,
       CASE WHEN event_type = 'purchase' AND prev_type = 'click'
                 AND prev_fcnt IS NOT DISTINCT FROM f_count
            THEN round(prev_val, 2) END AS gw_value,
       coalesce(event_type = 'purchase' AND prev_type = 'click'
                AND prev_fcnt IS NOT DISTINCT FROM f_count, FALSE) AS merged
FROM w
"""


# --- op 35: streaming dimension upsert + enrich (devices_map) ------------


def device_map_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dev_addr -> {dev_eui, app_name, dev_name} upserted on /join and
    application messages, read by every gateway packet
    (LoraServerIOCollector.py:285-304, :380-387). Shadow: signups
    upsert the device registry value k; every later event of that user
    reads the latest registration at-or-before it."""
    ev = _events(spark, sf_dir)
    k = F.from_json("props", EVENT_PROPS_SCHEMA).getField("k")
    ev = ev.select("event_id", "user_id", "ts", "event_type", k.alias("k"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(*_ARRIVAL)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    reg = F.when(F.col("event_type") == "signup", F.col("k"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(reg, ignorenulls=True).over(w).alias("dev_registration"),
    )


DEVICE_MAP_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'signup' THEN k END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dev_registration
FROM t
"""


# --- op 36: last-known-location propagation with reset -------------------


def location_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gateway-status location attaches to the NEXT parsed packet then
    resets (TTNCollector.py:202-211, :241-247). Exact semantics: a
    packet gets the latest status location seen since the previous
    packet; statuses before the previous packet are consumed. Shadow:
    'error' events carry a location (value); 'purchase' events are
    packets. Implemented with a packets-before running count to form
    (user, inter-packet group), then last(location) within the group."""
    ev = _events(spark, sf_dir)
    ev = ev.select("event_id", "user_id", "ts", "event_type", "value")
    is_packet = (F.col("event_type") == "purchase").cast("int")
    w_before = (
        Window.partitionBy("user_id")
        .orderBy(*_ARRIVAL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.coalesce(F.sum(is_packet).over(w_before), F.lit(0))
    ev = ev.withColumn("pk_grp", grp)
    w_grp = (
        Window.partitionBy("user_id", "pk_grp")
        .orderBy(*_ARRIVAL)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = F.when(F.col("event_type") == "error", F.round("value", 2))
    attached = F.last(loc, ignorenulls=True).over(w_grp)
    return (
        ev.withColumn("latitude", attached)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "latitude")
    )


LOCATION_PROPAGATION_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, ts, event_type, value,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pk_grp
  FROM events
)
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'error' THEN round(value, 2) END IGNORE NULLS)
         OVER (PARTITION BY user_id, pk_grp ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latitude
FROM t
QUALIFY event_type = 'purchase'
"""


# --- op 37: verification-ratio gate --------------------------------------


def verification_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collector verification (BaseCollector.py:11-26, :85-110): count
    total vs verified messages; verified when total >= 5 and ratio >
    0.8. Shadow: per user, a message verifies when value <= 100."""
    ev = _events(spark, sf_dir)
    # when/otherwise, not a bare boolean cast: a NULL value must count
    # as unverified (0), matching the oracle's CASE ... ELSE 0 — the
    # cast form propagated NULL through the sum (fuzz-caught).
    ok = F.when(F.col("value") <= 100, 1).otherwise(0)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("total_packets"),
            F.sum(ok).alias("verified_packets"),
        )
        .select(
            "user_id",
            "total_packets",
            "verified_packets",
            (
                (F.col("total_packets") >= 5)
                & (F.col("verified_packets") / F.col("total_packets") > 0.8)
            ).alias("verified"),
        )
    )


VERIFICATION_GATE_ORACLE = """
SELECT user_id, count(*) AS total_packets,
       CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS verified_packets,
       count(*) >= 5 AND sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) / count(*) > 0.8 AS verified
FROM events
GROUP BY user_id
"""


# --- op 38: connection-status change detection ---------------------------


def status_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit only on state transitions (Orchestrator.py:88-135 keeps the
    previous status per collector and publishes diffs). Shadow: keep
    events whose event_type differs from the user's previous event."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(*_ARRIVAL)
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("prev_status", prev)
        .filter(F.col("prev_status").isNull() | (F.col("prev_status") != F.col("event_type")))
        .select("event_id", "user_id", F.col("event_type").alias("status"), "prev_status")
    )


STATUS_CHANGE_ORACLE = """
SELECT event_id, user_id, event_type AS status, prev_status
FROM (
  SELECT event_id, user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts NULLS FIRST, event_id) AS prev_status
  FROM events
)
WHERE prev_status IS NULL OR prev_status <> event_type
"""


# --- streaming dedup shadow ----------------------------------------------


def dedup_first_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark batch shadow: keep the first
    arrival per (user_id, event_type). Spark's dropDuplicates keeps an
    arbitrary row, so the deterministic formulation is the minimum in
    arrival order — which is also what the watermarked streaming dedup
    guarantees (first seen wins). Computed as a STRUCT-MIN hash
    aggregate, not a row_number window: (ts, event_id) is a total
    arrival order, so min(struct) is the first row, and the aggregate
    partial-combines map-side — one surviving row per key crosses the
    shuffle, where the window form ships every duplicate into a sort
    (the same rewrite as asof_join_orders_lineitem)."""
    ev = _events(spark, sf_dir)
    first = F.min(F.struct(*_ARRIVAL)).alias("_first")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(first)
        .select(
            "user_id",
            "event_type",
            F.col("_first.event_id").alias("event_id"),
            F.col("_first.ts").alias("ts"),
        )
    )


DEDUP_FIRST_ORACLE = """
SELECT user_id, event_type, event_id, ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts NULLS FIRST, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


# --- sessionization (session_window batch shadow) ------------------------


def sessionize_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, '30 minutes') batch shadow: lag-gap > 30 min
    starts a new session; running sum of starts numbers sessions."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(*_ARRIVAL)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = (gap_us.isNull() | (gap_us > 30 * 60 * 1000000)).cast("int")
    wacc = (
        Window.partitionBy("user_id")
        .orderBy(*_ARRIVAL)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = F.sum(new_session).over(wacc)
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER win IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER win) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
), s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       round(sum(value), 2) AS session_value
FROM s GROUP BY user_id, session_id
"""


# --- tumbling / sliding event-time windows -------------------------------


def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time window (streaming: window(ts, '1 hour')
    + watermark; batch shadow: date_trunc bucket — identical buckets)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def sliding_window_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h window every 1h: each event lands in 2 hourly slots
    (explode of the slot offsets — the same expansion Spark's window()
    performs internally)."""
    ev = _events(spark, sf_dir)
    slot = F.explode(F.array(F.lit(0), F.lit(1))).alias("slot")
    ev = ev.select("ts", "value", slot)
    win_start = F.date_trunc("hour", "ts") - F.col("slot") * F.expr("INTERVAL 1 HOUR")
    return (
        ev.groupBy(win_start.alias("window_start"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


SLIDING_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - slot * INTERVAL 1 HOUR AS window_start,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events, (VALUES (0), (1)) AS slots(slot)
GROUP BY 1
"""


def time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events time-analytics in ONE tagged union over the schema
    (kind, window_start, event_type, window_id, n, n_purchases,
    total_value, max_value) — the round-9 consolidation that gives the
    two r8 operators their driver CORRECTNESS rows without a new slot
    (the same fold that registered SemDeDup, BM25, PQ and DSIR):

    - kind in ('minute','hour','day'): the CASCADED time-grain rollup
      (operators/cascade.py) — hour re-aggregated from minute, day
      from hour, one raw scan. The 'hour' leg IS the hourly tumbling
      window the previous revision registered directly (same grouping,
      now decimal-exact), so tumbling coverage is retained.
    - kind = 'sliding': 2h/1h sliding window (the slot expansion
      Spark's window() performs internally; no event_type key, so it
      carries a null tag column).
    - kind = 'error_window': the BUCKETED RANGE JOIN
      (operators/rangejoin.py) — every event inside any error-opened
      30-minute half-open window, profiled per window, empty windows
      kept. The unkeyed interval join Spark would otherwise plan as
      BroadcastNestedLoopJoin, expressed as a bucket equi-join.
    """
    from .cascade import maintained_cascade_rollup
    from .rangejoin import range_join_error_windows

    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    # round 10: the cascade legs scan the PERSISTED grain tables (the
    # maintained lake artifact), not a recompute — row-identical by
    # construction, so the oracle below is unchanged.
    casc = maintained_cascade_rollup(spark, sf_dir).select(
        F.col("grain").alias("kind"),
        "window_start",
        "event_type",
        null_l.alias("window_id"),
        F.col("n_events").alias("n"),
        null_l.alias("n_purchases"),
        "total_value",
        null_d.alias("max_value"),
    )
    sli = sliding_window_2h_1h(spark, sf_dir).select(
        F.lit("sliding").alias("kind"),
        "window_start",
        null_s.alias("event_type"),
        null_l.alias("window_id"),
        "n",
        null_l.alias("n_purchases"),
        "total_value",
        null_d.alias("max_value"),
    )
    rng = range_join_error_windows(spark, sf_dir).select(
        F.lit("error_window").alias("kind"),
        F.col("w_start").alias("window_start"),
        null_s.alias("event_type"),
        "window_id",
        F.col("n_events").alias("n"),
        "n_purchases",
        null_d.alias("total_value"),
        "max_value",
    )
    return casc.unionByName(sli).unionByName(rng)


def _time_windows_sql() -> str:
    from .cascade import CASCADE_ROLLUP_ORACLE
    from .rangejoin import WINDOW_SECONDS

    assert WINDOW_SECONDS == 1800
    return f"""
WITH casc AS ({CASCADE_ROLLUP_ORACLE})
SELECT grain AS kind, window_start, event_type,
       CAST(NULL AS BIGINT) AS window_id, n_events AS n,
       CAST(NULL AS BIGINT) AS n_purchases, total_value,
       CAST(NULL AS DOUBLE) AS max_value
FROM casc
UNION ALL
SELECT 'sliding',
       CAST(date_trunc('hour', ts) AS TIMESTAMP) - slot * INTERVAL 1 HOUR,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       count(*), CAST(NULL AS BIGINT),
       round(sum(value), 2), CAST(NULL AS DOUBLE)
FROM events, (VALUES (0), (1)) AS slots(slot)
GROUP BY 2
UNION ALL
SELECT 'error_window', w.w_start, CAST(NULL AS VARCHAR), w.window_id,
       count(e.event_id),
       count(e.event_id) FILTER (e.event_type = 'purchase'),
       CAST(NULL AS DOUBLE), max(e.value)
FROM (SELECT event_id AS window_id, ts AS w_start,
             ts + INTERVAL 30 MINUTE AS w_end
      FROM events WHERE event_type = 'error') w
LEFT JOIN events e
  ON w.w_start IS NOT NULL AND e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id, w.w_start
"""


TIME_WINDOWS_ORACLE = _time_windows_sql()


QUERIES = [
    QuerySpec("prev_packet_correlation", prev_packet_correlation, PREV_PACKET_ORACLE,
              "op 34 1-row buffer as-of merge"),
    QuerySpec("device_map_enrich", device_map_enrich, DEVICE_MAP_ORACLE,
              "op 35 devices_map upsert+enrich"),
    QuerySpec("location_propagation", location_propagation, LOCATION_PROPAGATION_ORACLE,
              "op 36 location attach+reset"),
    QuerySpec("verification_gate", verification_gate, VERIFICATION_GATE_ORACLE,
              "op 37 verify ratio gate"),
    QuerySpec("status_change_detection", status_change_detection, STATUS_CHANGE_ORACLE,
              "op 38 change-only emission"),
    QuerySpec("dedup_first_arrival", dedup_first_arrival, DEDUP_FIRST_ORACLE,
              "streaming dedup shadow"),
    QuerySpec("sessionize_gap30m", sessionize_gap30m, SESSIONIZE_ORACLE,
              "session windows"),
    QuerySpec("time_windows", time_windows, TIME_WINDOWS_ORACLE,
              "tumbling + sliding event-time windows (tagged union)"),
]
