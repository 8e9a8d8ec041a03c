"""Scalar operator library — batch shadows of the reference's
projection/parsing/filter dataflow (SURVEY.md §2A ops 11-33).

Every operator the reference applies per-message in Python callbacks
is re-expressed here as Catalyst column expressions over the
stream-shaped ``events`` table (``ts``≈arrival time, ``event_type``≈
topic route, ``props``≈raw JSON body), so the DuckDB oracle can verify
identical column-level semantics. The streaming layer does not call
them: ``streaming/normalize.py`` builds its own expressions over the
raw collector messages.

Reference citations (file:line) point into /root/reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..registry import QuerySpec
from ..schemas import EVENT_PROPS_SCHEMA

# Routing map: event_type -> LoRaWAN mType (reference PhyParser.py:17
# emits JoinRequest/JoinAccept/(Un)ConfirmedDataUp/Down; topic router
# LoraServerIOCollector.py:171-184).
MTYPE_BY_EVENT = {
    "click": "UnconfirmedDataUp",
    "view": "UnconfirmedDataDown",
    "purchase": "ConfirmedDataUp",
    "signup": "JoinRequest",
    "error": "JoinAccept",
}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the wide from_json/to_json projection chains are pure
    # JVM compute but still bind to scan tasks — the single-row-group
    # test parquet runs them in ONE task (measured 2.7 s -> 1.1 s for
    # scalar_decode_chain at sf0.1). No-op on well-split inputs.
    return spread(load_table(spark, sf_dir, "events"))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


def _mtype_col():
    col = None
    for k, v in MTYPE_BY_EVENT.items():
        col = F.when(F.col("event_type") == k, v) if col is None else col.when(
            F.col("event_type") == k, v
        )
    return col.otherwise("Proprietary")


def _mtype_case_sql() -> str:
    whens = " ".join(
        f"WHEN event_type = '{k}' THEN '{v}'" for k, v in MTYPE_BY_EVENT.items()
    )
    return f"CASE {whens} ELSE 'Proprietary' END"


# --- flagship: packet summary (EP1 batch shadow) -------------------------


def packet_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: filter -> route -> event-time bucket -> aggregate.

    Shadow of the reference hot path (Orchestrator->collector->persist,
    SURVEY.md §3 EP1): heartbeat/empty drop (TTNCollector.py:164-166),
    mType routing (PhyParser.py:17), per-hour per-route packet counts.
    Scale note: the distinct-device leg is its OWN aggregate joined
    back on the group keys — countDistinct alongside count/sum plans
    an Expand that multiplies every input row under every aggregate
    (the approx_aggregates lesson, 19 s -> 3.9 s there); here the
    split form measured 0.38 vs 0.44 s at sf0.1, row-identical, and
    at 100 TB it replaces a 2x input-row blowup with a map-side-
    combined dedup plus a join of two group-count-sized aggregates.
    """
    # NOT _events/spread(): this query aggregates immediately, so the
    # groupBy exchange already redistributes — a pre-agg roundrobin
    # exchange is pure overhead here (measured 0.46 vs 0.69 s at
    # sf0.1). spread() belongs on the NARROW chains below, whose whole
    # pipeline otherwise binds to the scan's task count.
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull() & (F.length("props") > 1)).select(
        _mtype_col().alias("m_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("value"),
        F.col("user_id"),
    )
    counts = base.groupBy("m_type", "hour").agg(
        F.count("*").alias("n_packets"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    # countDistinct semantics: NULL user_id is not a device, and a
    # group whose devices are all NULL still exists with n_devices=0 —
    # hence the NOT NULL filter, LEFT join, and zero-coalesce (the
    # NULL discipline test_parity_fuzz.py pins on every split form).
    devices = (
        base.select("m_type", "hour", "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("m_type", "hour")
        .agg(F.count("*").alias("n_devices"))
    )
    # eqNullSafe on hour: a NULL ts row forms a NULL-hour GROUP in both
    # aggregates (SQL GROUP BY treats NULLs as equal) but a plain join
    # key would never re-match them (m_type is never NULL — the mType
    # map ends in otherwise('Proprietary')). EqualNullSafe is still an
    # equi-join key to the planner, but note it rewrites the join keys
    # to (coalesce(hour), isnull(hour)) — which does NOT line up with
    # the aggregates' (m_type, hour) hash partitioning; locally the
    # tiny devices side broadcasts, and at scale the group-count-sized
    # aggregate outputs are trivially exchangeable relative to the 2x
    # input-row Expand this split removes.
    c, d = counts.alias("c"), devices.alias("d")
    return c.join(
        d,
        (F.col("c.m_type") == F.col("d.m_type"))
        & F.col("c.hour").eqNullSafe(F.col("d.hour")),
        "left",
    ).select(
        F.col("c.m_type").alias("m_type"),
        F.col("c.hour").alias("hour"),
        "n_packets",
        "sum_value",
        F.coalesce("n_devices", F.lit(0)).alias("n_devices"),
    )


PACKET_SUMMARY_ORACLE = f"""
SELECT {_mtype_case_sql()} AS m_type,
       date_trunc('hour', ts) AS hour,
       count(*) AS n_packets,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_devices
FROM events
WHERE value IS NOT NULL AND length(props) > 1
GROUP BY 1, 2
"""


# --- op 11: JSON deserialize --------------------------------------------


def json_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json of the raw message body (GenericMqttCollector.py:120)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.from_json("props", EVENT_PROPS_SCHEMA).getField("k").alias("k"),
    )


JSON_PARSE_PROPS_ORACLE = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


# --- op 12: base64 pad + decode gate ------------------------------------


def base64_pad_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad base64 to a multiple of 4 then decode
    (GenericMqttCollector.py:127-130). The unpadded input is
    synthesized by stripping '=' from an encode of the doc text head;
    Spark's MIME-chunked base64 output is un-chunked with translate()
    to match RFC-4648 (what DuckDB and the reference's Python emit).
    """
    docs = _documents(spark, sf_dir)
    b64 = F.translate(F.base64(F.substring("text", 1, 48).cast("binary")), "\r\n", "")
    unpadded = F.regexp_replace(b64, "=+$", "")
    repadded = F.concat(
        unpadded, F.expr("repeat('=', (4 - length(regexp_replace(translate(base64(cast(substring(text, 1, 48) AS binary)), '\\r\\n', ''), '=+$', '')) % 4) % 4)")
    )
    return docs.select(
        "doc_id",
        unpadded.alias("unpadded"),
        F.unbase64(repadded).cast("string").alias("decoded"),
    )


BASE64_PAD_DECODE_ORACLE = """
WITH b AS (
  SELECT doc_id, regexp_replace(base64(encode(substr(text, 1, 48))), '=+$', '') AS unpadded
  FROM documents
)
SELECT doc_id, unpadded,
       decode(from_base64(unpadded || repeat('=', (4 - length(unpadded) % 4) % 4))) AS decoded
FROM b
"""


# --- ops 19 + 21: regex extract from topic + topic router ----------------


def regex_topic_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic synthesis + regex routing/extraction.

    Shadow of the ChirpStack topic router
    (LoraServerIOCollector.py:171-184, :254-256) and the devEUI
    topic extract (GenericMqttCollector.py:188-195) including the
    '-'-strip.
    """
    ev = _events(spark, sf_dir)
    topic = F.format_string("lora/dev-%d/%s", F.col("user_id"),
                            F.when(F.col("event_type") == "signup", "joined").otherwise("up"))
    ev = ev.select("event_id", topic.alias("topic"))
    return ev.select(
        "event_id",
        "topic",
        F.regexp_replace(F.regexp_extract("topic", "lora/(.*)/", 1), "-", "").alias("dev_eui"),
        F.when(F.col("topic").rlike("/up$"), "data")
        .when(F.col("topic").rlike("/joined$"), "join")
        .otherwise("other")
        .alias("route"),
    )


REGEX_TOPIC_ROUTE_ORACLE = """
WITH t AS (
  SELECT event_id,
         printf('lora/dev-%d/%s', user_id,
                CASE WHEN event_type = 'signup' THEN 'joined' ELSE 'up' END) AS topic
  FROM events
)
SELECT event_id, topic,
       replace(regexp_extract(topic, 'lora/(.*)/', 1), '-', '') AS dev_eui,
       CASE WHEN regexp_matches(topic, '/up$') THEN 'data'
            WHEN regexp_matches(topic, '/joined$') THEN 'join'
            ELSE 'other' END AS route
FROM t
"""


# --- op 20: data-rate parse ("SF7BW125" -> JSON) -------------------------


def datarate_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'SF(.*)BW(.*)' -> {"spread_factor","bandwidth"} JSON string
    (GenericMqttCollector.py:197-205). Spark to_json(struct(..)) and
    DuckDB to_json(struct_pack(..)) agree byte-for-byte when no field
    is null (probe P12)."""
    ev = _events(spark, sf_dir)
    datr = F.format_string("SF%dBW%d", (F.col("user_id") % 6 + 7).cast("int"),
                           F.when(F.col("event_id") % 2 == 0, 125).otherwise(250))
    ev = ev.select("event_id", datr.alias("datr"))
    return ev.select(
        "event_id",
        "datr",
        F.to_json(
            F.struct(
                F.regexp_extract("datr", "SF(.*)BW(.*)", 1).alias("spread_factor"),
                F.regexp_extract("datr", "SF(.*)BW(.*)", 2).alias("bandwidth"),
            )
        ).alias("datr_json"),
    )


DATARATE_PARSE_ORACLE = """
WITH t AS (
  SELECT event_id,
         printf('SF%dBW%d', user_id % 6 + 7,
                CASE WHEN event_id % 2 = 0 THEN 125 ELSE 250 END) AS datr
  FROM events
)
SELECT event_id, datr,
       to_json(struct_pack(
           spread_factor := regexp_extract(datr, 'SF(.*)BW(.*)', 1),
           bandwidth := regexp_extract(datr, 'SF(.*)BW(.*)', 2))) AS datr_json
FROM t
"""


# --- op 24: unit conversions --------------------------------------------


def unit_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hz->MHz divide (LoraServerIOCollector.py:334,354), ISO ts ->
    epoch seconds/us (TTNCollector.py:232, TTNv3Collector.py:269-270),
    CRC enum -> int (LoraServerIOCollector.py:523-531)."""
    ev = _events(spark, sf_dir)
    # floor() before the cast: Spark's double->long cast truncates while
    # DuckDB's rounds, so make the semantics explicit and identical.
    freq_hz = F.floor(F.col("value") * 10000000).cast("long")
    return ev.select(
        "event_id",
        F.round(freq_hz / 1000000.0, 6).alias("freq_mhz"),
        F.unix_micros("ts").alias("epoch_us"),
        (F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("epoch_s"),
        F.when(F.col("event_type") == "error", -1)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("crc_stat"),
    )


UNIT_CONVERSIONS_ORACLE = """
SELECT event_id,
       round(CAST(floor(value * 10000000) AS BIGINT) / 1000000.0, 6) AS freq_mhz,
       epoch_us(ts) AS epoch_us,
       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_s,
       CASE WHEN event_type = 'error' THEN -1
            WHEN event_type = 'click' THEN 1
            ELSE 0 END AS crc_stat
FROM events
"""


# --- op 25: base64 -> hex ------------------------------------------------


def base64_to_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b64decode(gatewayID).hex() (LoraServerIOCollector.py:324)."""
    docs = _documents(spark, sf_dir)
    gw_b64 = F.translate(F.base64(F.col("source").cast("binary")), "\r\n", "")
    return docs.select(
        "doc_id",
        gw_b64.alias("gateway_b64"),
        F.lower(F.hex(F.unbase64(gw_b64))).alias("gateway_hex"),
    )


BASE64_TO_HEX_ORACLE = """
WITH t AS (SELECT doc_id, base64(encode(source)) AS gateway_b64 FROM documents)
SELECT doc_id, gateway_b64, lower(hex(from_base64(gateway_b64))) AS gateway_hex
FROM t
"""


# --- op 26: string truncation -------------------------------------------


def string_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw message capped before persist (TTNCollector.py:218 caps at
    4096; shadow caps at 64 so the truncation is exercised)."""
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.substring("text", 1, 64).alias("message"),
        F.length(F.substring("text", 1, 64)).alias("message_len"),
    )


STRING_TRUNCATION_ORACLE = """
SELECT doc_id, substr(text, 1, 64) AS message, CAST(length(substr(text, 1, 64)) AS INTEGER) AS message_len
FROM documents
"""


# --- op 27: constant/derived stamps -------------------------------------


def constant_stamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config constants + 'eui-' strip (TTNCollector.py:252-253).
    The reference stamps date=now(); the deterministic shadow stamps
    the event time instead (nondeterministic now() can't be
    oracle-checked)."""
    ev = _events(spark, sf_dir)
    gw = F.format_string("eui-%08x", F.col("user_id"))
    return ev.select(
        "event_id",
        F.lit(7).cast("long").alias("data_collector_id"),
        F.lit(1).cast("long").alias("organization_id"),
        gw.alias("gateway_raw"),
        F.regexp_replace(gw, "^eui-", "").alias("gateway"),
        F.col("ts").alias("date"),
    )


CONSTANT_STAMPS_ORACLE = """
SELECT event_id,
       CAST(7 AS BIGINT) AS data_collector_id,
       CAST(1 AS BIGINT) AS organization_id,
       printf('eui-%08x', user_id) AS gateway_raw,
       regexp_replace(printf('eui-%08x', user_id), '^eui-', '') AS gateway,
       ts AS date
FROM events
"""


# --- op 28 + sink shape: envelope JSON serialization ---------------------


def envelope_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packet_writter_message envelope {'packet', 'messages', 'ts'}
    (BaseCollector.py:55-56, PacketPersistence.py:35, Publisher.py:119)
    as to_json(struct(...)). All fields coalesced non-null: Spark's
    to_json drops null fields while DuckDB keeps them (probe P2), so
    the envelope builder normalizes first — which the reference also
    effectively does (it sets every key explicitly). The one field
    left nullable by design is the stamp itself: ignoreNullFields=
    false keeps "ts":null on unstamped rows (DuckDB always keeps null
    fields — round-7 NULL-ts fuzz find), and an explicit null is the
    wire-honest envelope (a consumer can tell "unstamped" from "field
    absent")."""
    ev = _events(spark, sf_dir)
    packet = F.struct(
        F.col("event_id").alias("seqn"),
        _mtype_col().alias("m_type"),
        F.coalesce(F.round("value", 2), F.lit(0.0)).alias("rssi"),
        F.coalesce(F.col("user_id"), F.lit(-1)).alias("device"),
    )
    messages = F.array(
        F.struct(
            # coalesce like the device field: format_string renders a
            # NULL arg as "null" while printf NULL-propagates (fuzz
            # find) — and the normalized -1 sentinel is the envelope's
            # unknown-device convention anyway
            F.format_string(
                "gateway/gw-%d/rx", F.coalesce(F.col("user_id"), F.lit(-1)) % 5
            ).alias("topic"),
            F.substring(F.coalesce("props", F.lit("")), 1, 4096).alias("message"),
            F.lit(7).cast("long").alias("data_collector_id"),
        )
    )
    return ev.select(
        "event_id",
        F.to_json(
            F.struct(
                packet.alias("packet"),
                messages.alias("messages"),
                F.unix_micros("ts").alias("ts"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("envelope"),
    )


ENVELOPE_SERIALIZE_ORACLE = f"""
SELECT event_id,
       to_json(struct_pack(
         packet := struct_pack(
            seqn := event_id,
            m_type := {_mtype_case_sql()},
            rssi := coalesce(round(value, 2), 0.0),
            device := coalesce(user_id, -1)),
         messages := [struct_pack(
            topic := printf('gateway/gw-%d/rx', coalesce(user_id, -1) % 5),
            message := substr(coalesce(props, ''), 1, 4096),
            data_collector_id := CAST(7 AS BIGINT))],
         ts := epoch_us(ts))) AS envelope
FROM events
"""


# --- ops 29-31: filters / guards ----------------------------------------


def filter_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat drop len<=1 (TTNCollector.py:164-166), missing-field
    drop (GenericMqttCollector.py:122-125), size guard <= 300
    (LoraServerIOCollector.py:312-315) — composed over documents.
    Catalyst pushes all three into the parquet scan."""
    docs = _documents(spark, sf_dir)
    return (
        docs.filter(
            (F.length("text") > 1)
            & F.col("text").isNotNull()
            & (F.col("n_chars") <= 300)
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("total_chars"))
    )


FILTER_GUARDS_ORACLE = """
SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE length(text) > 1 AND text IS NOT NULL AND n_chars <= 300
GROUP BY lang
"""


# --- op 32: parse-error routing -----------------------------------------


def parse_error_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unparseable payload -> error column, row still persisted
    (PhyParser.py:10-12, GenericMqttCollector.py:174-176). Corruption
    is synthesized deterministically (every 7th message truncated);
    Spark's from_json yields null fields on malformed input, DuckDB
    guards with json_valid."""
    ev = _events(spark, sf_dir)
    raw = F.when(F.col("event_id") % 7 == 0, F.substring("props", 1, 3)).otherwise(
        F.col("props")
    )
    ev = ev.select("event_id", raw.alias("raw"))
    parsed = F.from_json("raw", EVENT_PROPS_SCHEMA).getField("k")
    return ev.select(
        "event_id",
        parsed.alias("k"),
        F.when(parsed.isNull(), "Unmarshal error: invalid payload").alias("error"),
    )


PARSE_ERROR_ROUTING_ORACLE = """
WITH t AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 3) ELSE props END AS raw
  FROM events
)
SELECT event_id,
       CASE WHEN json_valid(raw) THEN CAST(json_extract_string(raw, '$.k') AS INTEGER) END AS k,
       CASE WHEN NOT json_valid(raw) OR json_extract_string(raw, '$.k') IS NULL
            THEN 'Unmarshal error: invalid payload' END AS error
FROM t
"""


# --- op 14/22/23: per-mType field projection + router --------------------


def mtype_field_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mType switch selecting different field sets
    (PhyParser.py:21-71): JoinRequest carries dev_nonce, Data frames
    carry dev_addr/f_count, others null — one when/otherwise chain,
    exactly how the engine projects per-type columns."""
    ev = _events(spark, sf_dir)
    m_type = _mtype_col()
    is_join = F.col("event_type") == "signup"
    is_data = F.col("event_type").isin("click", "view", "purchase")
    return ev.select(
        "event_id",
        m_type.alias("m_type"),
        F.when(is_join, F.format_string("%016x", F.col("user_id"))).alias("dev_eui"),
        F.when(is_join, (F.col("event_id") % 65536).cast("int")).alias("dev_nonce"),
        F.when(is_data, F.format_string("%08x", F.col("user_id"))).alias("dev_addr"),
        F.when(is_data, F.col("event_id") % 1024).alias("f_count"),
        F.when(is_data, F.col("event_id") % 2 == 0).alias("adr"),
    )


MTYPE_FIELD_PROJECTION_ORACLE = f"""
SELECT event_id,
       {_mtype_case_sql()} AS m_type,
       CASE WHEN event_type = 'signup' THEN printf('%016x', user_id) END AS dev_eui,
       CASE WHEN event_type = 'signup' THEN CAST(event_id % 65536 AS INTEGER) END AS dev_nonce,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN printf('%08x', user_id) END AS dev_addr,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN event_id % 1024 END AS f_count,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN event_id % 2 = 0 END AS adr
FROM events
"""


# --- ops 16-18: radio-metadata projection through from_json --------------


def radio_metadata_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested raw JSON -> flat radio columns. The raw ChirpStack-shaped
    message (FIXTURES.md F3) is synthesized with to_json, then parsed
    back with from_json and projected: rxInfo.loRaSNR -> lsnr, nested
    dataRate -> datr fields, Hz -> MHz divide
    (LoraServerIOCollector.py:321-360). Exercises the real plan shape:
    from_json -> nested field access -> arithmetic."""
    ev = _events(spark, sf_dir)
    raw = F.to_json(
        F.struct(
            F.struct(
                (F.col("user_id") % 8).cast("int").alias("channel"),
                F.round("value", 2).alias("loRaSNR"),
                (F.round("value", 2) * -1).alias("rssi"),
                ((F.col("event_id") % 9 + 1) * 100000000).alias("frequency"),
                F.struct(
                    F.lit("LORA").alias("modulation"),
                    (F.col("user_id") % 6 + 7).cast("int").alias("spreadFactor"),
                ).alias("dataRate"),
            ).alias("rxInfo")
        )
    )
    ev = ev.select("event_id", raw.alias("raw"))
    schema = (
        "rxInfo struct<channel:int, loRaSNR:double, rssi:double, "
        "frequency:bigint, dataRate:struct<modulation:string, spreadFactor:int>>"
    )
    parsed = F.from_json("raw", schema)
    return ev.select(
        "event_id",
        parsed.getField("rxInfo").getField("channel").alias("chan"),
        parsed.getField("rxInfo").getField("loRaSNR").alias("lsnr"),
        parsed.getField("rxInfo").getField("rssi").alias("rssi"),
        F.round(parsed.getField("rxInfo").getField("frequency") / 1000000.0, 6).alias("freq_mhz"),
        parsed.getField("rxInfo").getField("dataRate").getField("modulation").alias("modu"),
        parsed.getField("rxInfo").getField("dataRate").getField("spreadFactor").alias("spread_factor"),
    )


RADIO_METADATA_PROJECTION_ORACLE = """
SELECT event_id,
       CAST(user_id % 8 AS INTEGER) AS chan,
       round(value, 2) AS lsnr,
       round(value, 2) * -1 AS rssi,
       round((event_id % 9 + 1) * 100000000 / 1000000.0, 6) AS freq_mhz,
       'LORA' AS modu,
       CAST(user_id % 6 + 7 AS INTEGER) AS spread_factor
FROM events
"""


# --- compound chains (registry consolidation, round 2) -------------------
#
# The driver's correctness gate checks a bounded window of registry
# entries, so the 13 fine-grained scalar shadows above are registered
# as three compound chains that project every component's columns in
# one pass (same expressions, same oracles, unioned column-wise).
# The component builders stay exported: the streaming layer and unit
# tests use them individually, and the compound builders are thin
# column-level compositions of them.


def scalar_decode_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 11, 14, 16-23, 32 as ONE wide projection over events:
    from_json parse (op 11), regex topic route + devEUI extract (ops
    19/21), datarate parse (op 20), per-mType field projection (ops
    14/22/23), nested radio-metadata projection (ops 16-18), and
    parse-error routing (op 32). One narrow scan -> one select; every
    column keeps the exact expression of its standalone shadow.
    Scale: single stage, whole-stage codegen, no shuffle.

    NULL user_id rows are dropped, mirroring the reference's identity
    guard (a packet without device identity takes the error route, ops
    29-31) — and keeping the derived identifier strings engine-stable:
    Spark format_string renders Java's "null" where DuckDB's printf
    propagates NULL (caught by tests/test_parity_fuzz.py)."""
    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    # ops 19+21 synthesis
    topic = F.format_string("lora/dev-%d/%s", F.col("user_id"),
                            F.when(F.col("event_type") == "signup", "joined").otherwise("up"))
    # op 20 synthesis
    datr = F.format_string("SF%dBW%d", (F.col("user_id") % 6 + 7).cast("int"),
                           F.when(F.col("event_id") % 2 == 0, 125).otherwise(250))
    # op 32 synthesis (every 7th message truncated)
    raw_err = F.when(F.col("event_id") % 7 == 0, F.substring("props", 1, 3)).otherwise(
        F.col("props")
    )
    err_parsed = F.from_json(raw_err, EVENT_PROPS_SCHEMA).getField("k")
    # ops 16-18 synthesis: ChirpStack-shaped nested JSON round-trip
    radio_raw = F.to_json(
        F.struct(
            F.struct(
                (F.col("user_id") % 8).cast("int").alias("channel"),
                F.round("value", 2).alias("loRaSNR"),
                (F.round("value", 2) * -1).alias("rssi"),
                ((F.col("event_id") % 9 + 1) * 100000000).alias("frequency"),
                F.struct(
                    F.lit("LORA").alias("modulation"),
                    (F.col("user_id") % 6 + 7).cast("int").alias("spreadFactor"),
                ).alias("dataRate"),
            ).alias("rxInfo")
        )
    )
    radio_schema = (
        "rxInfo struct<channel:int, loRaSNR:double, rssi:double, "
        "frequency:bigint, dataRate:struct<modulation:string, spreadFactor:int>>"
    )
    radio = F.from_json(radio_raw, radio_schema).getField("rxInfo")
    is_join = F.col("event_type") == "signup"
    is_data = F.col("event_type").isin("click", "view", "purchase")
    return ev.select(
        "event_id",
        # op 11
        F.from_json("props", EVENT_PROPS_SCHEMA).getField("k").alias("k"),
        # ops 19+21
        topic.alias("topic"),
        F.regexp_replace(F.regexp_extract(topic, "lora/(.*)/", 1), "-", "").alias("dev_eui"),
        F.when(topic.rlike("/up$"), "data")
        .when(topic.rlike("/joined$"), "join")
        .otherwise("other")
        .alias("route"),
        # op 20
        datr.alias("datr"),
        F.to_json(
            F.struct(
                F.regexp_extract(datr, "SF(.*)BW(.*)", 1).alias("spread_factor"),
                F.regexp_extract(datr, "SF(.*)BW(.*)", 2).alias("bandwidth"),
            )
        ).alias("datr_json"),
        # ops 14/22/23
        _mtype_col().alias("m_type"),
        F.when(is_join, F.format_string("%016x", F.col("user_id"))).alias("join_dev_eui"),
        F.when(is_join, (F.col("event_id") % 65536).cast("int")).alias("dev_nonce"),
        F.when(is_data, F.format_string("%08x", F.col("user_id"))).alias("dev_addr"),
        F.when(is_data, F.col("event_id") % 1024).alias("f_count"),
        F.when(is_data, F.col("event_id") % 2 == 0).alias("adr"),
        # ops 16-18
        radio.getField("channel").alias("chan"),
        radio.getField("loRaSNR").alias("lsnr"),
        radio.getField("rssi").alias("rssi"),
        F.round(radio.getField("frequency") / 1000000.0, 6).alias("freq_mhz"),
        radio.getField("dataRate").getField("modulation").alias("modu"),
        radio.getField("dataRate").getField("spreadFactor").alias("spread_factor"),
        # op 32
        err_parsed.alias("err_k"),
        F.when(err_parsed.isNull(), "Unmarshal error: invalid payload").alias("error"),
    )


SCALAR_DECODE_CHAIN_ORACLE = f"""
WITH t AS (
  SELECT event_id, user_id, value, event_type, props,
         printf('lora/dev-%d/%s', user_id,
                CASE WHEN event_type = 'signup' THEN 'joined' ELSE 'up' END) AS topic,
         printf('SF%dBW%d', user_id % 6 + 7,
                CASE WHEN event_id % 2 = 0 THEN 125 ELSE 250 END) AS datr,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 3) ELSE props END AS raw
  FROM events
  WHERE user_id IS NOT NULL
)
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       topic,
       replace(regexp_extract(topic, 'lora/(.*)/', 1), '-', '') AS dev_eui,
       CASE WHEN regexp_matches(topic, '/up$') THEN 'data'
            WHEN regexp_matches(topic, '/joined$') THEN 'join'
            ELSE 'other' END AS route,
       datr,
       to_json(struct_pack(
           spread_factor := regexp_extract(datr, 'SF(.*)BW(.*)', 1),
           bandwidth := regexp_extract(datr, 'SF(.*)BW(.*)', 2))) AS datr_json,
       {_mtype_case_sql()} AS m_type,
       CASE WHEN event_type = 'signup' THEN printf('%016x', user_id) END AS join_dev_eui,
       CASE WHEN event_type = 'signup' THEN CAST(event_id % 65536 AS INTEGER) END AS dev_nonce,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN printf('%08x', user_id) END AS dev_addr,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN event_id % 1024 END AS f_count,
       CASE WHEN event_type IN ('click', 'view', 'purchase') THEN event_id % 2 = 0 END AS adr,
       CAST(user_id % 8 AS INTEGER) AS chan,
       round(value, 2) AS lsnr,
       round(value, 2) * -1 AS rssi,
       round((event_id % 9 + 1) * 100000000 / 1000000.0, 6) AS freq_mhz,
       'LORA' AS modu,
       CAST(user_id % 6 + 7 AS INTEGER) AS spread_factor,
       CAST(json_extract_string(TRY_CAST(raw AS JSON), '$.k') AS INTEGER) AS err_k,
       CASE WHEN json_extract_string(TRY_CAST(raw AS JSON), '$.k') IS NULL
            THEN 'Unmarshal error: invalid payload' END AS error
FROM t
"""


def scalar_envelope_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 24, 27, 28 as ONE wide projection over events: unit/enum
    conversions, constant/derived stamps, and the
    packet_writter_message envelope serialization. Same expressions as
    the standalone shadows; one narrow no-shuffle stage. NULL user_id
    rows dropped — same identity-guard policy and printf-NULL
    rationale as scalar_decode_chain."""
    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    # op 24
    freq_hz = F.floor(F.col("value") * 10000000).cast("long")
    # op 27
    gw = F.format_string("eui-%08x", F.col("user_id"))
    # op 28
    packet = F.struct(
        F.col("event_id").alias("seqn"),
        _mtype_col().alias("m_type"),
        F.coalesce(F.round("value", 2), F.lit(0.0)).alias("rssi"),
        F.coalesce(F.col("user_id"), F.lit(-1)).alias("device"),
    )
    messages = F.array(
        F.struct(
            F.format_string("gateway/gw-%d/rx", F.col("user_id") % 5).alias("topic"),
            F.substring(F.coalesce("props", F.lit("")), 1, 4096).alias("message"),
            F.lit(7).cast("long").alias("data_collector_id"),
        )
    )
    return ev.select(
        "event_id",
        F.round(freq_hz / 1000000.0, 6).alias("freq_mhz"),
        F.unix_micros("ts").alias("epoch_us"),
        (F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("epoch_s"),
        F.when(F.col("event_type") == "error", -1)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("crc_stat"),
        F.lit(7).cast("long").alias("data_collector_id"),
        F.lit(1).cast("long").alias("organization_id"),
        gw.alias("gateway_raw"),
        F.regexp_replace(gw, "^eui-", "").alias("gateway"),
        F.col("ts").alias("date"),
        F.to_json(
            F.struct(
                packet.alias("packet"),
                messages.alias("messages"),
                F.unix_micros("ts").alias("ts"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("envelope"),
    )


SCALAR_ENVELOPE_CHAIN_ORACLE = f"""
SELECT event_id,
       round(CAST(floor(value * 10000000) AS BIGINT) / 1000000.0, 6) AS freq_mhz,
       epoch_us(ts) AS epoch_us,
       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_s,
       CASE WHEN event_type = 'error' THEN -1
            WHEN event_type = 'click' THEN 1
            ELSE 0 END AS crc_stat,
       CAST(7 AS BIGINT) AS data_collector_id,
       CAST(1 AS BIGINT) AS organization_id,
       printf('eui-%08x', user_id) AS gateway_raw,
       regexp_replace(printf('eui-%08x', user_id), '^eui-', '') AS gateway,
       ts AS date,
       to_json(struct_pack(
         packet := struct_pack(
            seqn := event_id,
            m_type := {_mtype_case_sql()},
            rssi := coalesce(round(value, 2), 0.0),
            device := coalesce(user_id, -1)),
         messages := [struct_pack(
            topic := printf('gateway/gw-%d/rx', user_id % 5),
            message := substr(coalesce(props, ''), 1, 4096),
            data_collector_id := CAST(7 AS BIGINT))],
         ts := epoch_us(ts))) AS envelope
FROM events
WHERE user_id IS NOT NULL
"""


def scalar_binary_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 12, 25, 26 projected over documents with the ops 29-31
    filter guards applied first (heartbeat drop, missing-field drop,
    size guard) — the reference's guard-then-transform order. The
    guards land in the parquet scan as PushedFilters; everything else
    is one codegen'd projection."""
    docs = _documents(spark, sf_dir)
    guarded = docs.filter(
        (F.length("text") > 1) & F.col("text").isNotNull() & (F.col("n_chars") <= 300)
    )
    b64 = F.translate(F.base64(F.substring("text", 1, 48).cast("binary")), "\r\n", "")
    unpadded = F.regexp_replace(b64, "=+$", "")
    repadded = F.concat(
        unpadded, F.expr("repeat('=', (4 - length(regexp_replace(translate(base64(cast(substring(text, 1, 48) AS binary)), '\\r\\n', ''), '=+$', '')) % 4) % 4)")
    )
    gw_b64 = F.translate(F.base64(F.col("source").cast("binary")), "\r\n", "")
    return guarded.select(
        "doc_id",
        unpadded.alias("unpadded"),
        F.unbase64(repadded).cast("string").alias("decoded"),
        gw_b64.alias("gateway_b64"),
        F.lower(F.hex(F.unbase64(gw_b64))).alias("gateway_hex"),
        F.substring("text", 1, 64).alias("message"),
        F.length(F.substring("text", 1, 64)).alias("message_len"),
    )


SCALAR_BINARY_CHAIN_ORACLE = """
WITH g AS (
  SELECT doc_id, text, source
  FROM documents
  WHERE length(text) > 1 AND text IS NOT NULL AND n_chars <= 300
), b AS (
  SELECT doc_id, text, source,
         regexp_replace(base64(encode(substr(text, 1, 48))), '=+$', '') AS unpadded,
         base64(encode(source)) AS gateway_b64
  FROM g
)
SELECT doc_id, unpadded,
       decode(from_base64(unpadded || repeat('=', (4 - length(unpadded) % 4) % 4))) AS decoded,
       gateway_b64,
       lower(hex(from_base64(gateway_b64))) AS gateway_hex,
       substr(text, 1, 64) AS message,
       CAST(length(substr(text, 1, 64)) AS INTEGER) AS message_len
FROM b
"""


QUERIES = [
    QuerySpec("packet_summary", packet_summary, PACKET_SUMMARY_ORACLE,
              "flagship EP1 shadow: filter->route->bucket->agg"),
    QuerySpec("scalar_decode_chain", scalar_decode_chain, SCALAR_DECODE_CHAIN_ORACLE,
              "ops 11,14,16-23,32: parse/route/project/error chain"),
    QuerySpec("scalar_envelope_chain", scalar_envelope_chain, SCALAR_ENVELOPE_CHAIN_ORACLE,
              "ops 24,27,28: conversions/stamps/envelope chain"),
    QuerySpec("scalar_binary_chain", scalar_binary_chain, SCALAR_BINARY_CHAIN_ORACLE,
              "ops 12,25,26 + guards 29-31: binary/truncation chain"),
]
