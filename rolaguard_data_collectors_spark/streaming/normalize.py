"""Per-source normalization pipelines: raw transport rows -> the one
canonical ``packet`` frame (SURVEY.md §1.3, §2A ops 11-33).

Each pipeline is a pure column-expression plan over the
``RAW_MESSAGE_SCHEMA`` rows a source emits — it runs identically on a
batch DataFrame (oracle-checkable) and a readStream frame. The only
non-Catalyst step is the Arrow-vectorized LoRaWAN codec UDF (op 13).

Fidelity note: the reference stamps ``date = datetime.now()`` at parse
time (GenericMqttCollector.py:158); for replayable/deterministic
pipelines we stamp the transport arrival time instead
(``timestamp_seconds(ts)``) — same intent (arrival time), reproducible.

Scale notes: everything here is per-row narrow work — no shuffle, no
state; filters sit below the codec UDF so Catalyst prunes cheap drops
(heartbeats, oversized frames) before the expensive decode, the same
ordering the reference hand-codes (SURVEY.md §4). The four pipelines
union into one frame only when the caller asks (unionByName with
nulls), keeping per-source plans independent at 1000-collector scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.lorawan_sql import (
    EXPR_SAFE_FIELDS,
    decode_fields_from_hex,
    decoded_frame_hex,
)
from ..functions.lorawan_udfs import decode_phypayload_for
from ..schemas import (
    CHIRPSTACK_APPLICATION_SCHEMA,
    CHIRPSTACK_GATEWAY_SCHEMA,
    CHIRPSTACK_JOIN_SCHEMA,
    MQTT_FORWARDER_SCHEMA,
    PACKET_COLUMNS,
    PACKET_SCHEMA,
    TTN_V2_PAYLOAD_SCHEMA,
    TTN_V2_STATUS_SCHEMA,
    TTN_V3_EVENT_SCHEMA,
)

# Passthrough columns kept next to the packet for the stateful layer
# (arrival order) and the envelope sink (raw message body).
PASSTHROUGH = ["_seq", "_raw_topic", "_raw_value"]


def _b64_pad(col: Column) -> Column:
    """Pad base64 to a multiple of 4 (op 12,
    GenericMqttCollector.py:127-130)."""
    return F.concat(col, F.repeat(F.lit("="), (F.lit(4) - F.length(col) % 4) % 4))


def _finish(df: DataFrame) -> DataFrame:
    """Project to the fixed packet schema (§1.3): every source emits a
    subset; missing columns become typed nulls (Service.py:7-46 writer
    contract).

    selectExpr with SQL strings, not Column objects: the ~40-column
    cast/alias projection built as Columns costs ~120 py4j round trips
    (~0.3 s of driver latency PER PLAN BUILD, measured via cProfile —
    it dominated the pipeline queries' build time); one selectExpr
    ships the whole projection in a single call."""
    present = set(df.columns)
    exprs = [
        f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
        if f.name in present
        else f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in PACKET_SCHEMA.fields
    ]
    exprs += [f"`{c}`" for c in PASSTHROUGH if c in present]
    return df.selectExpr(*exprs)


def _with_passthrough(raw: DataFrame) -> DataFrame:
    return raw.select(
        F.col("seq").alias("_seq"),
        F.col("topic").alias("_raw_topic"),
        F.col("value").alias("_raw_value"),
        "*",
    )


def _decoded(data_col: Column, fields: tuple[str, ...] | None = None):
    """LoRaWAN PHY decode (op 13) without session keys. ``fields``
    prunes the UDF's output struct to what the caller consumes —
    manual nested-schema pruning, since Catalyst can't prune inside a
    Python UDF (lorawan_udfs.decode_phypayload_for)."""
    return decode_phypayload_for(fields)(data_col, F.lit(None), F.lit(None))


# Batch and stream decode the same way: one narrow pass, with a
# per-Arrow-batch frame memo inside the UDF (lorawan_udfs.py), so a
# repeated frame costs a dict probe after its first decode in each
# batch. A dropDuplicates + join-back alternative (decode each
# distinct frame once) lost at every duplication factor measured:
# sf0.1 noop-write, best-of-2 (round 4): mqtt 2.32 vs 3.21 s,
# chirpstack 3.39 vs 4.30, ttn_v2 2.06 vs 3.22, ttn_v3 2.43 vs 2.87;
# 1M rows with session keys at local[32], min-of-3 (round 5): 1x 2.9
# vs 6.6 s, 10x 2.2 vs 4.1 s, 1000x 1.6 vs 3.1 s. Its re-scan and
# full-row shuffles cost more than the ~20us/frame crypto they save.


def _attach_parsed(df: DataFrame, fields: tuple[str, ...] | None = None) -> DataFrame:
    """Attach the decode struct ``_p`` for the ``data`` column. Null
    ``data`` (off-route rows) yields a null struct."""
    # No-key pruned decode -> pure Catalyst expressions (optimization
    # round 14, guide §4.1): when every requested field is a byte
    # slice (no FRMPayload decrypt, no MIC, no MAC-command JSON), the
    # parse runs inside whole-stage codegen and the ArrowEvalPython
    # crossing disappears from the plan — value-identical to the UDF
    # by the lorawan_sql exactness contract (fuzz-pinned in
    # tests/test_decode_expr.py). Measured at sf0.1: the four
    # crossings cost 0.48 s of the 1.20 s staged-union
    # materialization, all Arrow serialization (an all-NULL-input
    # crossing measured the same 1.0 s).
    if fields is not None and set(fields) <= EXPR_SAFE_FIELDS:
        # The decoded-frame hex is staged as its OWN column first:
        # SimplifyExtractValueOps flattens the _p struct into its
        # consumers (one copy per field), but CollapseProject keeps a
        # non-cheap alias referenced more than once, so the
        # canonicalize+decode chain behind ``_ph`` evaluates once per
        # row and each field copy is a conv/substr over the attribute
        # (see decoded_frame_hex: the unstaged form carried 40
        # unbase64 nodes and ran slower than the UDF).
        staged = df.withColumn("_ph", decoded_frame_hex(F.col("data")))
        return staged.withColumn(
            "_p", decode_fields_from_hex(F.col("_ph"), tuple(fields))
        ).drop("_ph")
    return df.withColumn("_p", _decoded(F.col("data"), fields))


_PARSE_FIELDS = [
    "m_type", "major", "mic", "join_eui", "dev_eui", "dev_nonce", "dev_addr",
    "adr", "ack", "adr_ack_req", "f_pending", "class_b", "f_count", "f_opts",
    "f_port", "error",
]


def _explode_parsed(
    df: DataFrame,
    overrides: dict[str, Column] | None = None,
    parse_fields: tuple[str, ...] | None = None,
) -> DataFrame:
    """Lift the decode struct into the packet columns. The codec UDF is
    referenced once, so the plan evaluates it once per row. One single
    select (not a withColumn per field): each withColumn re-analyzes
    the whole — wide — plan, and 16 of them made driver-side plan
    construction a measurable share of pipeline latency. ``overrides``
    replaces a parse field's expression (source-specific coalesces /
    status-route retags) while keeping the single-select shape.

    ``parse_fields`` (None = all) prunes BOTH the UDF's output struct
    and the emitted parse columns to the requested set (plus any
    override keys, whose expressions may reference their ``_p`` field)
    — un-emitted packet columns become typed nulls in ``_finish``.
    Callers that consume a narrow projection (the registered pipeline
    queries) pass their field set; everything else keeps the full
    frame."""
    ov = overrides or {}
    if parse_fields is None:
        emit = _PARSE_FIELDS
        df = _attach_parsed(df)
    else:
        want = set(parse_fields) | set(ov)
        emit = [f for f in _PARSE_FIELDS if f in want]
        df = _attach_parsed(df, fields=tuple(emit))
    taken = set(_PARSE_FIELDS) | {"_p"}
    out = [F.col(c) for c in df.columns if c not in taken]
    for f in emit:
        out.append((ov[f] if f in ov else F.col("_p")[f]).alias(f))
    return df.select(*out)


# --- op 1 pipeline: generic packet-forwarder MQTT ------------------------


def normalize_mqtt_forwarder(
    raw: DataFrame, parse_fields: tuple[str, ...] | None = None
) -> DataFrame:
    """GenericMqttCollector.py:104-176: JSON body -> radio metadata +
    padded base64 PHY decode; dev_eui recoverable from the
    ``lora/<dev-eui>/up`` topic (op 19, :188-195); ``datr``
    "SF7BW125" -> JSON {spread_factor, bandwidth} (op 20, :197-205)."""
    j = F.from_json("value", MQTT_FORWARDER_SCHEMA)
    df = (
        _with_passthrough(raw)
        .withColumn("_j", j)
        # op 30: no 'data' -> drop (:122-125).
        .filter(F.col("_j.data").isNotNull())
        .select(
            "*",
            _b64_pad(F.col("_j.data")).alias("data"),
            F.col("_j.chan").alias("chan"),
            F.col("_j.stat").alias("stat"),
            F.col("_j.lsnr").alias("lsnr"),
            F.col("_j.rssi").alias("rssi"),
            F.col("_j.tmst").cast("double").alias("tmst"),
            F.col("_j.rfch").alias("rfch"),
            F.col("_j.freq").alias("freq"),
            F.col("_j.modu").alias("modu"),
            F.col("_j.codr").alias("codr"),
            F.col("_j.size").alias("size"),
            F.col("_j.seqn").alias("seqn"),
            F.col("_j.opts").alias("opts"),
            F.col("_j.port").alias("port"),
            # op 20: SFxBWy -> JSON string.
            F.when(
                F.col("_j.datr").rlike("SF(.*)BW(.*)"),
                F.to_json(
                    F.struct(
                        F.regexp_extract("_j.datr", r"SF(\d+)BW", 1).alias(
                            "spread_factor"
                        ),
                        F.regexp_extract("_j.datr", r"BW(\d+)", 1).alias("bandwidth"),
                    )
                ),
            )
            .otherwise(F.col("_j.datr"))
            .alias("datr"),
            F.timestamp_seconds(F.col("ts")).alias("date"),
        )
    )
    topic_eui = F.nullif(
        F.regexp_replace(F.regexp_extract("topic", r"lora/(.*)/", 1), "-", ""),
        F.lit(""),
    )
    return _finish(
        _explode_parsed(
            df,
            {"dev_eui": F.coalesce(F.col("_p.dev_eui"), topic_eui)},
            parse_fields=parse_fields,
        )
    )


# --- op 2 pipeline: ChirpStack MQTT --------------------------------------


def normalize_chirpstack(
    raw: DataFrame, parse_fields: tuple[str, ...] | None = None
) -> DataFrame:
    """LoraServerIOCollector.py:225-500. Three topic routes (op 21,
    :171-184): gateway rx|tx|up frames (JSON or protobuf-as-JSON
    layouts, op 17 :321-360), application device messages
    (:402-448), and /join registrations (:285-304). The stateful layer
    then applies devices_map / prev-packet semantics (ops 34-35).

    Single-pass design: one scan of the input, routes multiplexed with
    ``when()`` — each per-route ``from_json`` sits inside its route
    predicate, so every row pays exactly one scan + one JSON parse (a
    3-branch union would scan the source three times: 3x I/O at
    100 TB). The codec UDF evaluates once per row; non-gateway rows
    pass a null payload through it at negligible cost."""
    base = _with_passthrough(raw)

    is_gw = F.col("topic").rlike("^gateway/.+/(rx|tx|up)$")
    is_app = ~is_gw & F.col("topic").rlike("application/.+/(device|node)/.+/(rx|up)$")
    is_join = ~is_gw & ~is_app & F.col("topic").rlike("/join$")

    # Op 15: gateway uplinks whose body isn't JSON may be raw
    # gw.UplinkFrame protobuf (base64 over the string transport);
    # decode to the MessageToJson shape and fall through to the same
    # JSON handling (LoraServerIOCollector.py:253-263). The UDF is a
    # near-free no-op for JSON bodies ('{' fails strict base64).
    from ..functions.lorawan_udfs import pb_uplink_to_json

    # The when() guard is applied to the UDF's ARGUMENT, not around the
    # UDF call: Catalyst extracts Python UDFs out of conditional
    # expressions and evaluates them for every row, so guarding the
    # call alone still ships every JSON body through Arrow. With the
    # condition inside, non-pb rows reach the UDF as nulls and skip the
    # base64 attempt entirely.
    #
    # The UDF is referenced exactly ONCE, inside the gateway route's
    # from_json (pb fallback only applies there — the reference tries
    # it only on gateway up frames, :253-263). An earlier version
    # rewrote the shared ``value`` column instead; CollapseProject then
    # inlined the UDF expression into consumers at different plan
    # depths with different expression texts, and ExtractPythonUDFs
    # planned it TWICE (a second full Arrow crossing per row, ~1s at
    # sf0.1). The UDF is also declared nondeterministic (it is pure —
    # see its docstring): that is what stops alias substitution from
    # copying _g's definition into pushed-down filters, which would
    # re-plan the UDF a second time.
    pb_cond = is_gw & F.col("topic").rlike("/up$") & ~F.col("value").startswith("{")
    gw_body = F.coalesce(
        pb_uplink_to_json(F.when(pb_cond, F.col("value"))), F.col("value")
    )

    # Early route filter, deliberately BELOW the parse projection:
    # it's pure topic-regex work, so letting Catalyst push it to the
    # scan prunes off-route rows before they pay the JSON parse + UDF
    # crossing (the parse projection itself is a pushdown fence now —
    # see above — so this cheap disjunction must be planted early by
    # hand).
    df = base.filter(is_gw | is_app | is_join).select(
        "*",
        F.when(is_gw, F.from_json(gw_body, CHIRPSTACK_GATEWAY_SCHEMA)).alias("_g"),
        F.when(is_app, F.from_json("value", CHIRPSTACK_APPLICATION_SCHEMA)).alias("_a"),
        F.when(is_join, F.from_json("value", CHIRPSTACK_JOIN_SCHEMA)).alias("_jn"),
        is_gw.alias("_is_gw"),
        is_app.alias("_is_app"),
        is_join.alias("_is_join"),
    )
    # op 31: PHYPayload size guard, gateway route only (:312-315);
    # evaluates against the materialized _g above the parse.
    gw_ok = (
        F.col("_g.phyPayload").isNotNull()
        & (F.length("_g.phyPayload") <= 300)
    )
    df = df.filter(~F.col("_is_gw") | gw_ok)

    is_tx = F.col("topic").rlike("/tx$")
    info = F.when(is_tx, F.col("_g.txInfo")).otherwise(F.col("_g.rxInfo"))
    df = df.withColumn("_i", info)
    # Protobuf-as-JSON variant carries base64 gatewayID + nested
    # loRaModulationInfo (:324, :335-338); plain JSON carries mac +
    # dataRate (:321-334).
    gw_hex = F.lower(F.hex(F.unbase64(F.col("_i.gatewayID"))))
    # MessageToJson-shaped uplink bodies (and the reference's protobuf
    # branch, :330-340) carry frequency/loRaModulationInfo under
    # txInfo even for uplinks — coalesce the rx-side fields with their
    # txInfo counterparts so such bodies don't yield null radio
    # metadata.
    sf_col = F.coalesce(
        F.col("_i.dataRate.spreadFactor"),
        F.col("_i.loRaModulationInfo.spreadingFactor"),
        F.col("_g.txInfo.loRaModulationInfo.spreadingFactor"),
    )
    bw_col = F.coalesce(
        F.col("_i.dataRate.bandwidth"),
        F.col("_i.loRaModulationInfo.bandwidth"),
        F.col("_g.txInfo.loRaModulationInfo.bandwidth"),
    )
    df = df.select(
        "*",
        F.col("_g.phyPayload").alias("data"),  # null off the gateway route
        F.when(F.col("_i.gatewayID").isNotNull(), gw_hex)
        .otherwise(F.col("_i.mac"))
        .alias("gateway"),
        F.col("_i.channel").alias("chan"),
        F.col("_i.rfChain").alias("rfch"),
        F.col("_i.crcStatus").alias("stat"),
        F.coalesce(
            F.col("_i.codeRate"),
            F.col("_i.loRaModulationInfo.codeRate"),
            F.col("_g.txInfo.loRaModulationInfo.codeRate"),
        ).alias("codr"),
        F.col("_i.rssi").alias("rssi"),
        F.col("_i.loRaSNR").alias("lsnr"),
        F.col("_i.size").alias("size"),
        F.col("_i.timestamp").cast("double").alias("tmst"),
        # op 24: Hz -> MHz (:334,354); uplink bodies may carry the
        # frequency under txInfo (see coalesce note above).
        (
            F.coalesce(F.col("_i.frequency"), F.col("_g.txInfo.frequency"))
            / F.lit(1000000.0)
        ).alias("freq"),
        F.when(F.col("_is_gw"), F.coalesce(F.col("_i.dataRate.modulation"), F.lit("LORA"))).alias("modu"),
        F.when(
            sf_col.isNotNull(),
            F.to_json(
                F.struct(
                    sf_col.cast("string").alias("spread_factor"),
                    bw_col.cast("string").alias("bandwidth"),
                )
            ),
        ).alias("datr"),
        # application-route enrichment (:415-438); null structs give
        # nulls off-route without per-column when()s.
        F.col("_a.applicationName").alias("app_name"),
        F.col("_a.deviceName").alias("dev_name"),
        F.get(F.col("_a.rxInfo"), 0)["name"].alias("gw_name"),
        F.get(F.col("_a.rxInfo"), 0)["location"]["latitude"].alias("latitude"),
        F.get(F.col("_a.rxInfo"), 0)["location"]["longitude"].alias("longitude"),
        F.get(F.col("_a.rxInfo"), 0)["location"]["altitude"].alias("altitude"),
        F.timestamp_seconds(F.col("ts")).alias("date"),
    )
    df = _explode_parsed(
        df,
        {
            "m_type": F.when(F.col("_is_join"), F.lit("JoinNotification"))
            .otherwise(F.col("_p.m_type")),
            "dev_eui": F.coalesce(
                F.col("_a.devEUI"), F.col("_jn.devEUI"), F.col("_p.dev_eui")
            ),
            "dev_addr": F.coalesce(F.col("_jn.devAddr"), F.col("_p.dev_addr")),
            "f_count": F.coalesce(F.col("_a.fCnt"), F.col("_p.f_count")),
        },
        parse_fields=parse_fields,
    ).drop("_g", "_a", "_jn", "_i")
    return _finish(df)


# --- op 3 pipeline: TTN v2 WebSocket -------------------------------------


def normalize_ttn_v2(
    raw: DataFrame, parse_fields: tuple[str, ...] | None = None
) -> DataFrame:
    """TTNCollector.py:160-262. Keepalive 'h' frames dropped by the
    length>1 filter (op 29, :164-166); frames routed by substring
    markers then sliced down to their JSON body (op 22, :181-192);
    gateway-status frames carry a location that the stateful layer
    attaches to the next packet (op 36, :202-211). The WS connection is
    per-gateway, so the transport stores the gateway id in ``topic``;
    the 'eui-' prefix is stripped (:253).

    Single-pass: one scan, frame/status routes multiplexed with
    ``when()`` so each row pays one JSON parse (see
    normalize_chirpstack scale note)."""
    base = _with_passthrough(raw).filter(F.length("value") > 1)

    mk = F.col("value")
    is_status = mk.contains("gateway status")
    is_frame = ~is_status & (
        mk.contains("gateway uplink")
        | mk.contains("gateway downlink")
        | mk.contains("join request")
        | mk.contains("join accept")
    )
    # The reference slices fixed offsets per marker (:181-192); the
    # equivalent robust form extracts the embedded JSON object.
    body = F.regexp_extract("value", r"(\{.*\})", 1)
    gateway = F.regexp_replace("topic", "^eui-", "")

    df = base.select(
        "*",
        F.when(is_frame, F.from_json(body, TTN_V2_PAYLOAD_SCHEMA)).alias("_f"),
        F.when(is_status, F.from_json(body, TTN_V2_STATUS_SCHEMA)).alias("_s"),
        is_status.alias("_is_status"),
    )
    df = df.filter(F.col("_is_status") | F.col("_f.payload").isNotNull())
    df = df.select(
        "*",
        F.when(F.col("_f.payload").isNotNull(), _b64_pad(F.col("_f.payload"))).alias("data"),
        F.col("_f.snr").alias("lsnr"),
        F.col("_f.rssi").alias("rssi"),
        # op 24: ISO -> epoch ms (:232).
        (F.unix_micros(F.to_timestamp("_f.timestamp")) / F.lit(1000.0)).alias("tmst"),
        F.col("_f.rfch").alias("rfch"),
        F.col("_f.frequency").alias("freq"),
        F.col("_f.coding_rate").alias("codr"),
        gateway.alias("gateway"),
        F.col("_s.status.location.latitude").alias("latitude"),
        F.col("_s.status.location.longitude").alias("longitude"),
        F.col("_s.status.location.altitude").alias("altitude"),
        F.timestamp_seconds(F.col("ts")).alias("date"),
    )
    topic_eui = F.nullif(F.regexp_replace(F.col("_f.dev_eui"), "-", ""), F.lit(""))
    df = _explode_parsed(
        df,
        {
            "m_type": F.when(F.col("_is_status"), F.lit("GatewayStatus"))
            .otherwise(F.col("_p.m_type")),
            "dev_eui": F.coalesce(F.col("_p.dev_eui"), topic_eui),
        },
        parse_fields=parse_fields,
    )
    return _finish(df.drop("_f", "_s"))


# --- op 4 pipeline: TTN v3 SSE -------------------------------------------


def normalize_ttn_v3(
    raw: DataFrame, parse_fields: tuple[str, ...] | None = None
) -> DataFrame:
    """TTNv3Collector.py:205-330. Event-name routing (op 23,
    :214-229): gs.up.receive / gs.down.send are frames,
    gs.status.receive carries antenna locations, events.stream.start
    is dropped. Uplink freq from settings, downlink from
    request.rx1_frequency (op 18, :277-288); epoch seconds from the
    ISO event time (:269-270).

    Single-pass: the SSE envelope is one schema, so routing is pure
    ``when()`` over the parsed struct — one scan, one JSON parse."""
    base = _with_passthrough(raw).withColumn(
        "_j", F.from_json("value", TTN_V3_EVENT_SCHEMA)
    )
    name = F.col("_j.name")
    is_fr = name.isin("gs.up.receive", "gs.down.send")
    is_status = name == "gs.status.receive"
    gw = F.lower(
        F.coalesce(
            F.get(F.col("_j.identifiers"), 0)["gateway_ids"]["eui"],
            F.get(F.col("_j.identifiers"), 0)["gateway_ids"]["gateway_id"],
        )
    )

    df = base.filter(
        (is_fr & F.col("_j.data.raw_payload").isNotNull())
        | (is_status & F.col("_j.data.antenna_locations").isNotNull())
    )
    df = df.select(
        "*",
        is_status.alias("_is_status"),
        F.when(is_fr, _b64_pad(F.col("_j.data.raw_payload"))).alias("data"),
        F.when(is_fr, F.get(F.col("_j.data.rx_metadata"), 0)["snr"]).alias("lsnr"),
        F.when(is_fr, F.get(F.col("_j.data.rx_metadata"), 0)["rssi"]).alias("rssi"),
        F.when(
            name == "gs.up.receive",
            F.col("_j.data.settings.frequency").cast("double") / 1000000.0,
        )
        .when(
            name == "gs.down.send",
            F.col("_j.data.request.rx1_frequency").cast("double") / 1000000.0,
        )
        .alias("freq"),
        F.when(is_fr, F.col("_j.data.settings.coding_rate")).alias("codr"),
        # op 24: ISO -> epoch seconds (:269-270).
        F.when(
            is_fr, F.unix_micros(F.to_timestamp("_j.time")) / F.lit(1000000.0)
        ).alias("tmst"),
        gw.alias("gateway"),
        F.get(F.col("_j.data.antenna_locations"), 0)["latitude"].alias("latitude"),
        F.get(F.col("_j.data.antenna_locations"), 0)["longitude"].alias("longitude"),
        F.get(F.col("_j.data.antenna_locations"), 0)["altitude"].alias("altitude"),
        F.timestamp_seconds(F.col("ts")).alias("date"),
    )
    df = _explode_parsed(
        df,
        {
            "m_type": F.when(F.col("_is_status"), F.lit("GatewayStatus"))
            .otherwise(F.col("_p.m_type")),
        },
        parse_fields=parse_fields,
    )
    return _finish(df.drop("_j"))
