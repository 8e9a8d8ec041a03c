"""Streaming layer tests: custom DataSources, normalize pipelines,
stateful operators (vs their oracle-checked batch shadows), envelope
sink, and the control-plane orchestrator."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from rolaguard_data_collectors_spark.catalog import load_table
from rolaguard_data_collectors_spark.operators import stateful as batch_shadows
from rolaguard_data_collectors_spark.schemas import PACKET_COLUMNS
from rolaguard_data_collectors_spark.sources import register_sources
from rolaguard_data_collectors_spark.streaming import (
    normalize_chirpstack,
    normalize_mqtt_forwarder,
    normalize_ttn_v2,
    normalize_ttn_v3,
)
from rolaguard_data_collectors_spark.streaming import stateful as live
from rolaguard_data_collectors_spark.streaming.orchestrator import (
    CollectorConfig,
    CollectorManager,
)
from rolaguard_data_collectors_spark.streaming.sink import (
    QueueFileSink,
    start_envelope_queue_sink,
    to_envelope_json,
)

RAW_COLS = ["seq", "ts", "topic", "value", "data_collector_id", "organization_id"]
RAW_SCHEMA = "seq long, ts long, topic string, value string, data_collector_id long, organization_id long"


def _raw_df(spark, rows):
    return spark.createDataFrame(
        [tuple(r.get(c) for c in RAW_COLS) for r in rows], RAW_SCHEMA
    )


def _drain(query, timeout_s=120):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_s)


# --- sources --------------------------------------------------------------


def test_replay_source_multibatch(spark, tmp_path):
    register_sources(spark)
    d = tmp_path / "feeds"
    d.mkdir()
    for cid in (1, 2):
        with open(d / f"collector_{cid}.jsonl", "w") as fh:
            for i in range(23):
                fh.write(
                    json.dumps(
                        {"topic": f"gateway/g{cid}/rx", "value": "{}", "ts": 1700000000 + i}
                    )
                    + "\n"
                )
    df = (
        spark.readStream.format("lorawan_replay")
        .option("path", str(d))
        .option("batchSize", 5)
        .load()
    )
    q = df.writeStream.format("memory").queryName("replay_t").outputMode("append").start()
    _drain(q)
    got = {
        (r["data_collector_id"], r["n"], r["mn"], r["mx"])
        for r in spark.sql(
            "select data_collector_id, count(*) n, min(seq) mn, max(seq) mx "
            "from replay_t group by 1"
        ).collect()
    }
    assert got == {(1, 23, 0, 22), (2, 23, 0, 22)}


def test_live_source_fake_transport(spark):
    register_sources(spark)
    df = (
        spark.readStream.format("lorawan_live")
        .option("transport", "fake")
        .option("total", "40")
        .option("batchSize", "15")
        .option("dataCollectorId", "7")
        .load()
    )
    q = df.writeStream.format("memory").queryName("live_t").outputMode("append").start()
    import time

    deadline = time.time() + 90
    while time.time() < deadline:
        q.processAllAvailable()
        if spark.sql("select count(*) c from live_t").collect()[0][0] >= 40:
            break
        time.sleep(0.2)
    q.stop()
    rows = spark.sql(
        "select count(*) c, min(seq) mn, max(seq) mx, min(data_collector_id) cid "
        "from live_t"
    ).collect()[0]
    assert (rows["c"], rows["mn"], rows["mx"], rows["cid"]) == (40, 0, 39, 7)


def test_replay_transport_holds_torn_tail_and_degrades_garbage(tmp_path):
    """The live file tail hands over only newline-terminated lines: a
    last line still being written waits for its newline instead of
    failing to parse, and a complete line that does not parse degrades
    to a topic-less row (as the ``lorawan_replay`` reader does)."""
    from rolaguard_data_collectors_spark.sources.transports import ReplayTransport

    path = tmp_path / "generic_mqtt_collector_1.jsonl"
    good = '{"topic": "gateway/1/rx", "value": "{}", "ts": 5}\n'
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(good)
        fh.write('{"topic": "gateway/1/rx", "val')  # torn last line
    t = ReplayTransport(str(path))
    t.connect()
    try:
        got = t.poll(100)
        assert [(m.topic, m.value, m.ts) for m in got] == [("gateway/1/rx", "{}", 5)]
        assert t.poll(100) == []  # still torn: held back, no crash
        with open(path, "a", encoding="utf-8") as fh:
            fh.write('ue": "{\\"a\\": 1}", "ts": 6}\n')
            fh.write("not json at all\n")
            fh.write('{"topic": "gateway/1/rx", "value": "{}", "ts": "x"}\n')
            fh.write('{"topic": 7, "value": "{}", "ts": 8}\n')
        got = t.poll(100)
    finally:
        t.close()
    assert [(m.topic, m.value, m.ts) for m in got] == [
        ("gateway/1/rx", '{"a": 1}', 6),
        (None, "not json at all", 0),
        ("gateway/1/rx", "{}", 0),
        (None, '{"topic": 7, "value": "{}", "ts": 8}', 8),
    ]


def test_live_replay_query_survives_torn_tail_line(spark, tmp_path):
    """A live ``replay`` query whose capture ends in a half-written
    line keeps running and delivers that line once it is complete
    (it used to die with ``JSONDecodeError: Unterminated string``)."""
    import time

    register_sources(spark)
    path = tmp_path / "generic_mqtt_collector_1.jsonl"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write('{"topic": "gateway/1/rx", "value": "{}", "ts": 0}\n')
        fh.write('{"topic": "gateway/1/rx", "val')  # torn last line
    q = (
        spark.readStream.format("lorawan_live")
        .option("transport", "replay")
        .option("path", str(path))
        .load()
        .writeStream.format("memory")
        .queryName("live_torn_tail")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )

    def rows():
        return spark.sql(
            "select seq, topic, value from live_torn_tail order by seq"
        ).collect()

    try:
        q.processAllAvailable()
        assert [r.value for r in rows()] == ["{}"]
        with open(path, "a", encoding="utf-8") as fh:
            fh.write('ue": "{}", "ts": 1}\n')
        deadline = time.time() + 60
        while time.time() < deadline and len(rows()) < 2:
            q.processAllAvailable()
            time.sleep(0.2)
        assert q.exception() is None
        assert [(r.seq, r.topic) for r in rows()] == [
            (0, "gateway/1/rx"),
            (1, "gateway/1/rx"),
        ]
    finally:
        q.stop()


# --- normalize pipelines --------------------------------------------------

# A real UnconfirmedDataUp frame (devAddr=017fc1c4, fCnt=17, fPort=93,
# mic=7934d552) — codec vector from reference jsonUnmarshaler.go:16.
DATA_UP_B64 = "QMTBfwEAEQBd6f1YJ+K7NmuNmy/JpHTFQKI="


def test_normalize_mqtt_forwarder(spark):
    body = {
        "data": DATA_UP_B64.rstrip("="),  # unpadded on the wire
        "chan": 2,
        "stat": 1,
        "lsnr": 9.5,
        "rssi": -45.0,
        "tmst": 445402671,
        "rfch": 0,
        "freq": 868.3,
        "modu": "LORA",
        "datr": "SF7BW125",
        "codr": "4/5",
        "size": 23,
    }
    raw = _raw_df(
        spark,
        [
            {
                "seq": 0,
                "ts": 1700000000,
                "topic": "lora/00-b8-27-eb-89-1c-f5-00/up",
                "value": json.dumps(body),
                "data_collector_id": 3,
                "organization_id": 1,
            },
            # op 30: no 'data' field -> dropped
            {
                "seq": 1,
                "ts": 1700000001,
                "topic": "lora/x/up",
                "value": "{}",
                "data_collector_id": 3,
                "organization_id": 1,
            },
        ],
    )
    out = normalize_mqtt_forwarder(raw).collect()
    assert len(out) == 1
    p = out[0].asDict()
    assert p["m_type"] == "UnconfirmedDataUp"
    assert p["dev_addr"] == "017fc1c4"
    assert p["f_count"] == 17
    assert p["f_port"] == 93
    assert p["mic"] == "74c540a2"
    assert json.loads(p["datr"]) == {"spread_factor": "7", "bandwidth": "125"}
    assert p["freq"] == 868.3 and p["chan"] == 2 and p["stat"] == 1
    assert p["data"] == DATA_UP_B64  # repadded
    assert p["data_collector_id"] == 3 and p["organization_id"] == 1
    for c in PACKET_COLUMNS:
        assert c in p


def test_normalize_chirpstack_routes(spark):
    gw_json = {
        "phyPayload": DATA_UP_B64,
        "rxInfo": {
            "channel": 1,
            "rfChain": 0,
            "crcStatus": 1,
            "codeRate": "4/5",
            "rssi": -60.0,
            "loRaSNR": 7.0,
            "size": 23,
            "timestamp": 123456,
            "frequency": 868100000,
            "mac": "aabbccddeeff0011",
            "dataRate": {"modulation": "LORA", "spreadFactor": 7, "bandwidth": 125},
        },
    }
    # protobuf-as-JSON variant: base64 gatewayID, loRaModulationInfo
    gw_pb = {
        "phyPayload": DATA_UP_B64,
        "rxInfo": {
            "gatewayID": "qrvM3e7/ABE=",  # aabbccddeeff0011
            "rssi": -61.0,
            "loRaSNR": 6.5,
            "frequency": 868300000,
            "loRaModulationInfo": {
                "spreadingFactor": 9,
                "bandwidth": 125,
                "codeRate": "4/5",
            },
        },
    }
    app_json = {
        "fCnt": 17,
        "applicationName": "app-a",
        "deviceName": "dev-a",
        "devEUI": "b827eb891cf50003",
        "rxInfo": [
            {
                "name": "gw-name-1",
                "location": {"latitude": 1.5, "longitude": 2.5, "altitude": 10.0},
            }
        ],
    }
    join_json = {"devAddr": "017fc1c4", "devEUI": "b827eb891cf50003"}
    rows = [
        {"seq": 0, "ts": 1700000000, "topic": "gateway/aabb/rx", "value": json.dumps(gw_json), "data_collector_id": 5, "organization_id": 1},
        {"seq": 1, "ts": 1700000001, "topic": "gateway/aabb/up", "value": json.dumps(gw_pb), "data_collector_id": 5, "organization_id": 1},
        {"seq": 2, "ts": 1700000002, "topic": "application/9/device/b827eb891cf50003/rx", "value": json.dumps(app_json), "data_collector_id": 5, "organization_id": 1},
        {"seq": 3, "ts": 1700000003, "topic": "v1/join", "value": json.dumps(join_json), "data_collector_id": 5, "organization_id": 1},
    ]
    out = {r["_seq"]: r.asDict() for r in normalize_chirpstack(_raw_df(spark, rows)).collect()}
    assert len(out) == 4
    g = out[0]
    assert g["gateway"] == "aabbccddeeff0011"
    assert g["freq"] == 868.1 and g["stat"] == 1 and g["chan"] == 1
    assert g["m_type"] == "UnconfirmedDataUp" and g["dev_addr"] == "017fc1c4"
    assert json.loads(g["datr"]) == {"spread_factor": "7", "bandwidth": "125"}
    pb = out[1]
    assert pb["gateway"] == "aabbccddeeff0011"  # b64 -> hex (op 25)
    assert json.loads(pb["datr"]) == {"spread_factor": "9", "bandwidth": "125"}
    assert pb["freq"] == 868.3
    a = out[2]
    assert a["f_count"] == 17 and a["app_name"] == "app-a" and a["dev_name"] == "dev-a"
    assert a["gw_name"] == "gw-name-1" and a["latitude"] == 1.5
    j = out[3]
    assert j["dev_addr"] == "017fc1c4" and j["m_type"] == "JoinNotification"


def test_normalize_ttn_v2(spark):
    payload = {
        "payload": DATA_UP_B64,
        "snr": 8.8,
        "rssi": -50.0,
        "timestamp": "2024-01-05T10:00:00Z",
        "rfch": 1,
        "frequency": 867.5,
        "coding_rate": "4/5",
        "dev_eui": "B8-27-EB-89-1C-F5-00-03",
    }
    status = {"status": {"location": {"latitude": 4.5, "longitude": 5.5, "altitude": 100.0}}}
    rows = [
        {"seq": 0, "ts": 1700000000, "topic": "eui-a1b2", "value": "h", "data_collector_id": 2, "organization_id": 1},  # keepalive
        {"seq": 1, "ts": 1700000001, "topic": "eui-a1b2", "value": f'gateway uplink "{json.dumps(payload)}"', "data_collector_id": 2, "organization_id": 1},
        {"seq": 2, "ts": 1700000002, "topic": "eui-a1b2", "value": f'gateway status {json.dumps(status)}', "data_collector_id": 2, "organization_id": 1},
    ]
    out = {r["_seq"]: r.asDict() for r in normalize_ttn_v2(_raw_df(spark, rows)).collect()}
    assert len(out) == 2  # keepalive dropped (op 29)
    fr = out[1]
    assert fr["gateway"] == "a1b2"  # eui- stripped
    assert fr["m_type"] == "UnconfirmedDataUp" and fr["dev_addr"] == "017fc1c4"
    assert fr["lsnr"] == 8.8 and fr["codr"] == "4/5" and fr["freq"] == 867.5
    assert fr["tmst"] == 1704448800000.0  # ISO -> epoch ms (op 24)
    st = out[2]
    assert st["m_type"] == "GatewayStatus" and st["latitude"] == 4.5


def test_normalize_ttn_v3(spark):
    up = {
        "name": "gs.up.receive",
        "time": "2024-01-05T10:00:00Z",
        "identifiers": [{"gateway_ids": {"gateway_id": "my-gw", "eui": "AABBCCDDEEFF0011"}}],
        "data": {
            "raw_payload": DATA_UP_B64,
            "rx_metadata": [{"snr": 7.7, "rssi": -55.0}],
            "settings": {"frequency": "868100000", "coding_rate": "4/5"},
        },
    }
    down = {
        "name": "gs.down.send",
        "time": "2024-01-05T10:00:01Z",
        "identifiers": [{"gateway_ids": {"gateway_id": "my-gw"}}],
        "data": {"raw_payload": DATA_UP_B64, "request": {"rx1_frequency": "869525000"}},
    }
    status = {
        "name": "gs.status.receive",
        "identifiers": [{"gateway_ids": {"gateway_id": "my-gw", "eui": "AABBCCDDEEFF0011"}}],
        "data": {"antenna_locations": [{"latitude": 6.5, "longitude": 7.5, "altitude": 50.0}]},
    }
    start = {"name": "events.stream.start"}
    rows = [
        {"seq": i, "ts": 1700000000 + i, "topic": "", "value": json.dumps(v), "data_collector_id": 4, "organization_id": 1}
        for i, v in enumerate([up, down, status, start])
    ]
    out = {r["_seq"]: r.asDict() for r in normalize_ttn_v3(_raw_df(spark, rows)).collect()}
    assert len(out) == 3  # stream.start dropped (op 23)
    u = out[0]
    assert u["gateway"] == "aabbccddeeff0011"
    assert u["freq"] == 868.1 and u["lsnr"] == 7.7
    assert u["tmst"] == 1704448800.0  # ISO -> epoch s
    assert u["m_type"] == "UnconfirmedDataUp"
    d = out[1]
    assert d["freq"] == 869.525  # downlink: request.rx1_frequency
    s = out[2]
    assert s["m_type"] == "GatewayStatus" and s["latitude"] == 6.5


# --- stateful: streaming == oracle-checked batch shadow -------------------


@pytest.fixture(scope="module")
def events_stream_feed(spark, sf_dir, tmp_path_factory):
    """The sf0.001 events table as a single-collector JSONL feed in
    (ts, event_id) arrival order -> replay source in small batches, so
    state spans many micro-batches."""
    ev = (
        load_table(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .collect()
    )
    d = tmp_path_factory.mktemp("events_feed")
    path = d / "collector_1.jsonl"
    with open(path, "w") as fh:
        for r in ev:
            fh.write(
                json.dumps(
                    {
                        "topic": "events",
                        "value": json.dumps(
                            {
                                "event_id": r["event_id"],
                                "user_id": r["user_id"],
                                "ts": r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                                "event_type": r["event_type"],
                                "value": r["value"],
                                "props": r["props"],
                            }
                        ),
                        "ts": int(r["ts"].timestamp()),
                    }
                )
                + "\n"
            )
    return str(d)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_stream(spark, feed_dir, batch_size=150):
    register_sources(spark)
    raw = (
        spark.readStream.format("lorawan_replay")
        .option("path", feed_dir)
        .option("batchSize", batch_size)
        .load()
    )
    j = F.from_json("value", EVENT_SCHEMA)
    return raw.select(
        j["event_id"].alias("event_id"),
        j["user_id"].alias("user_id"),
        F.to_timestamp(j["ts"]).alias("ts"),
        j["event_type"].alias("event_type"),
        j["value"].alias("value"),
        j["props"].alias("props"),
    )


def _run_to_memory(df, name, mode="append"):
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    _drain(q)


def _rows_set(df, cols):
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


@pytest.mark.parametrize(
    "stream_fn,shadow_fn,cols,mode",
    [
        (
            live.prev_packet_correlation_stream,
            batch_shadows.prev_packet_correlation,
            ["event_id", "user_id", "f_count", "gw_value", "merged"],
            "append",
        ),
        (
            live.device_map_enrich_stream,
            batch_shadows.device_map_enrich,
            ["event_id", "user_id", "dev_registration"],
            "append",
        ),
        (
            live.location_propagation_stream,
            batch_shadows.location_propagation,
            ["event_id", "user_id", "latitude"],
            "append",
        ),
        (
            live.status_change_detection_stream,
            batch_shadows.status_change_detection,
            ["event_id", "user_id", "status", "prev_status"],
            "update",
        ),
    ],
)
def test_stateful_stream_matches_batch_shadow(
    spark, sf_dir, events_stream_feed, stream_fn, shadow_fn, cols, mode
):
    name = f"st_{stream_fn.__name__}"
    _run_to_memory(stream_fn(_events_stream(spark, events_stream_feed)), name, mode)
    got = _rows_set(spark.sql(f"select * from {name}"), cols)
    want = _rows_set(shadow_fn(spark, sf_dir), cols)
    assert got == want


def test_verification_gate_stream_final_state(spark, sf_dir, events_stream_feed):
    _run_to_memory(
        live.verification_gate_stream(_events_stream(spark, events_stream_feed)),
        "st_verify",
        "update",
    )
    # update mode emits running counters; the final (max total) row per
    # key must equal the batch aggregate.
    final = spark.sql(
        """
        select user_id, total_packets, verified_packets, verified
        from (select *, row_number() over (partition by user_id
                                           order by total_packets desc) rn
              from st_verify) where rn = 1
        """
    )
    cols = ["user_id", "total_packets", "verified_packets", "verified"]
    want = _rows_set(batch_shadows.verification_gate(spark, sf_dir), cols)
    assert _rows_set(final, cols) == want


def test_event_time_windows_stream(spark, sf_dir, events_stream_feed):
    ev = _events_stream(spark, events_stream_feed, batch_size=400)
    _run_to_memory(live.tumbling_counts_stream(ev), "st_tumble", "append")
    got = _rows_set(
        spark.sql("select window_start, event_type, n, total_value from st_tumble"),
        ["window_start", "event_type", "n", "total_value"],
    )
    want = _rows_set(
        batch_shadows.tumbling_window_hourly(spark, sf_dir),
        ["window_start", "event_type", "n", "total_value"],
    )
    # Append mode only emits windows the watermark has closed; every
    # emitted window must match its batch value, and most must emit.
    assert got <= want
    assert len(got) >= len(want) * 0.8


def test_session_and_sliding_windows_stream(spark, sf_dir, events_stream_feed):
    ev = _events_stream(spark, events_stream_feed, batch_size=400)
    _run_to_memory(live.session_windows_stream(ev), "st_sess", "append")
    # session_window.end = last event + gap; the batch shadow's
    # session_end is the last event time — subtract the gap to align.
    got = spark.sql(
        "select user_id, session_start, "
        "session_end - INTERVAL 30 MINUTES as session_end, "
        "n_events, session_value from st_sess"
    )
    # closed sessions must appear verbatim in the batch shadow (the
    # shadow's lag-gap formulation produces the same session bounds)
    want = _rows_set(
        batch_shadows.sessionize_gap30m(spark, sf_dir),
        ["user_id", "session_start", "session_end", "n_events", "session_value"],
    )
    got_set = _rows_set(
        got, ["user_id", "session_start", "session_end", "n_events", "session_value"]
    )
    assert got_set <= want
    assert len(got_set) >= len(want) * 0.8  # only watermark-open tail missing

    ev2 = _events_stream(spark, events_stream_feed, batch_size=400)
    _run_to_memory(live.sliding_counts_stream(ev2), "st_slide", "append")
    want_slide = _rows_set(
        batch_shadows.sliding_window_2h_1h(spark, sf_dir),
        ["window_start", "n", "total_value"],
    )
    got_slide = _rows_set(
        spark.sql("select window_start, n, total_value from st_slide"),
        ["window_start", "n", "total_value"],
    )
    assert got_slide <= want_slide
    assert len(got_slide) >= len(want_slide) * 0.8


def test_dedup_within_watermark_stream(spark, sf_dir, events_stream_feed):
    ev = _events_stream(spark, events_stream_feed, batch_size=400)
    _run_to_memory(live.dedup_within_watermark_stream(ev), "st_dedup", "append")
    got = spark.sql("select event_id, user_id, event_type from st_dedup")
    total = load_table(spark, sf_dir, "events").count()
    # dropDuplicatesWithinWatermark only dedups arrivals within the
    # watermark of a prior occurrence (later re-occurrences re-emit):
    # duplicates must shrink, keys must cover the shadow's key set, and
    # every first-arrival survivor must be emitted.
    assert got.count() < total
    want = batch_shadows.dedup_first_arrival(spark, sf_dir)
    assert _rows_set(got.select("user_id", "event_type"), ["user_id", "event_type"]) == _rows_set(
        want, ["user_id", "event_type"]
    )
    first_ids = _rows_set(want, ["event_id"])
    assert first_ids <= _rows_set(got, ["event_id"])


# --- sink -----------------------------------------------------------------


def test_envelope_shape_and_cap(spark):
    big = "x" * 5000
    rows = [
        {
            "seq": 0,
            "ts": 1700000000,
            "topic": "gateway/aabb/rx",
            "value": json.dumps(
                {
                    "phyPayload": DATA_UP_B64,
                    "rxInfo": {"rssi": -60.0, "loRaSNR": 7.0, "frequency": 868100000,
                               "mac": "aabbccddeeff0011", "codeRate": big[:10]},
                }
            ),
            "data_collector_id": 5,
            "organization_id": 1,
        }
    ]
    packets = normalize_chirpstack(_raw_df(spark, rows))
    env = to_envelope_json(packets).collect()
    assert len(env) == 1
    doc = json.loads(env[0]["envelope"])
    assert set(doc) == {"packet", "messages", "ts"}
    assert doc["packet"]["dev_addr"] == "017fc1c4"
    assert doc["messages"][0]["topic"] == "gateway/aabb/rx"
    assert doc["messages"][0]["data_collector_id"] == 5
    assert isinstance(doc["ts"], int)
    # 4096-char raw cap (TTNCollector.py:218)
    rows[0]["value"] = json.dumps({"phyPayload": DATA_UP_B64, "rxInfo": {"mac": big}})
    env2 = to_envelope_json(normalize_chirpstack(_raw_df(spark, rows))).collect()
    assert len(json.loads(env2[0]["envelope"])["messages"][0]["message"]) == 4096


def test_queue_sink_exactly_once(spark, tmp_path):
    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    df = spark.createDataFrame([(1, '{"a":1}')], "collector_id long, envelope string")
    sink(df, epoch_id=0)
    sink(df, epoch_id=0)  # replayed epoch must be idempotent
    sink(df, epoch_id=1)
    with open(out) as fh:
        assert len(fh.readlines()) == 2


def test_jdbc_projection_matches_service_contract(spark):
    """Op 9 plan-level check: the foreachBatch body must project
    EXACTLY the columns Service.py:7-46 persists into the Packet model
    — no engine-internal working columns (gw_name/seqn/opts/port), in
    the reference's order."""
    from rolaguard_data_collectors_spark.schemas import PACKET_SCHEMA
    from rolaguard_data_collectors_spark.streaming.sink import (
        JDBC_PACKET_COLUMNS,
        jdbc_projection,
    )

    df = spark.createDataFrame([], PACKET_SCHEMA)
    projected = jdbc_projection(df)
    assert projected.columns == JDBC_PACKET_COLUMNS
    # the contract mirrors Service.py exactly: 38 columns, starting
    # with the parse of 'date' and ending with dev_name
    assert len(JDBC_PACKET_COLUMNS) == 38
    assert JDBC_PACKET_COLUMNS[0] == "date" and JDBC_PACKET_COLUMNS[-1] == "dev_name"
    for internal in ("gw_name", "seqn", "opts", "port"):
        assert internal not in JDBC_PACKET_COLUMNS
    # types survive the projection (schema comes from PACKET_SCHEMA)
    assert dict(projected.dtypes)["date"] == "timestamp"
    assert dict(projected.dtypes)["f_count"] == "bigint"


def test_queue_sink_multi_partition_and_crash_window(spark, tmp_path):
    """Executor-side publish: a multi-partition micro-batch lands every
    row exactly once, and a crash BETWEEN the data append and the
    commit append (the non-atomic window ADVICE flagged) does not
    duplicate rows on replay."""
    import json as _json

    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    rows = [(1, _json.dumps({"i": i})) for i in range(40)]
    df = spark.createDataFrame(
        rows, "collector_id long, envelope string"
    ).repartition(8)
    sink(df, epoch_id=0)
    with open(out) as fh:
        got = sorted(_json.loads(line)["i"] for line in fh)
    assert got == list(range(40))

    # simulate crash after data append, before commit: wipe the commit
    # record for epoch 1 and replay it
    df2 = spark.createDataFrame(
        [(1, _json.dumps({"i": 100 + i})) for i in range(10)],
        "collector_id long, envelope string",
    ).repartition(4)
    sink(df2, epoch_id=1)
    with open(out + ".commits") as fh:
        commit_lines = fh.readlines()
    with open(out + ".commits", "w") as fh:
        fh.writelines(commit_lines[:-1])  # drop epoch 1's commit
    sink(df2, epoch_id=1)  # replay: must truncate + re-append, not duplicate
    with open(out) as fh:
        got = sorted(_json.loads(line)["i"] for line in fh)
    assert got == list(range(40)) + list(range(100, 110))
    # epoch scratch dirs are cleaned up after commit
    assert os.listdir(out + ".epochs") == []


def test_streaming_interval_join_matches_batch_twin(
    spark, sf_dir, events_stream_feed
):
    """Round 8: the bucketed range join run as a stream-stream
    SELF-join (errors open windows, all events probe) must emit
    exactly the batch twin's pair set — the bucket equi-key is what
    lets an unkeyed interval join plan as StreamingSymmetricHashJoin
    at all, and the time-range condition bounds its state."""
    from rolaguard_data_collectors_spark.operators.rangejoin import (
        error_window_event_pairs,
    )

    stream = error_window_event_pairs(
        _events_stream(spark, events_stream_feed)
    )
    assert stream.isStreaming
    _run_to_memory(stream, "st_interval_pairs", "append")
    cols = ["window_id", "p_event_id"]
    got = _rows_set(spark.sql("select * from st_interval_pairs"), cols)
    want = _rows_set(
        error_window_event_pairs(load_table(spark, sf_dir, "events")), cols
    )
    assert got == want and len(want) > 0


@pytest.mark.parametrize("layout", ["hive", "snapshot"])
def test_cascade_maintenance_stream(spark, sf_dir, events_stream_feed,
                                    tmp_path, layout):
    """Round 9: the continuous-aggregate maintenance flow end to end —
    the events stream maintains the persisted minute/hour/day grain
    tables through foreachBatch(CascadeMaintenanceSink) across many
    micro-batches, and the final tables equal a full batch recompute
    bit-exactly (decimal sums make merge generations exact). The
    snapshot leg drives the version-commit publishing through a REAL
    StreamingQuery (Spark-generated epoch ids, one manifest version
    per micro-batch, epochs recorded in the manifests)."""
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_grains,
        read_grain,
        start_cascade_maintenance,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "casc_tables")
    if layout == "snapshot":
        SnapshotStore.create(path)  # table birth chooses the layout
    q = start_cascade_maintenance(
        _events_stream(spark, events_stream_feed, batch_size=200),
        path,
        str(tmp_path / "casc_ckpt"),
    )
    _drain(q)
    if layout == "snapshot":
        store = SnapshotStore(path)
        assert store.current_version() >= 2  # one commit per micro-batch
        assert store.epoch_committed("append", 0)
        ops = {h["op"] for h in store.history()}
        assert ops <= {"create", "append"}, ops
    full = cascade_grains(spark, sf_dir)
    for g in ("minute", "hour", "day"):
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in read_grain(spark, path, g).collect()
        }
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in full[g].collect()
        }
        assert got == want and got, g


def test_streaming_interval_join_state_is_bounded(spark, events_stream_feed):
    """Round 9: the range join's STREAMABILITY claim is load-bearing,
    not just plan-shaped — the watermarks plus the w_start<=p_ts<w_end
    range condition must let StreamingSymmetricHashJoin EVICT state
    once the probe watermark passes a window's end. Feed ~30 days of
    events in many micro-batches (each advances the watermark hours at
    a time) and assert the state store actually removed rows and ended
    below its peak — an unbounded-state regression (e.g. a lost range
    condition) fails here even though results stay correct."""
    from rolaguard_data_collectors_spark.operators.rangejoin import (
        error_window_event_pairs,
    )

    stream = error_window_event_pairs(
        _events_stream(spark, events_stream_feed, batch_size=100)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("st_interval_state")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(120)
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    assert len(ops) >= 3, "feed did not span multiple micro-batches"
    totals = [o["numRowsTotal"] for o in ops]
    removed = sum(o["numRowsRemoved"] for o in ops)
    assert removed > 0, f"no state eviction across {len(ops)} batches: {totals}"
    # state peaked mid-stream and was evicted behind the watermark —
    # strictly below peak at the end, and the peak itself is far below
    # the total row count (both sides of the self-join ever buffered).
    assert totals[-1] < max(totals), totals
    n_rows = sum(p["sources"][0]["numInputRows"] for p in progress)
    assert max(totals) < 2 * n_rows, (max(totals), n_rows)


def test_queue_sink_null_and_adversarial_envelopes(spark, tmp_path):
    """Round-8 fuzz: NULL envelopes (impossible from to_envelope_json,
    possible from a custom caller) must publish as JSON ``null`` lines —
    neither a crash-retry poison pill nor a silent drop — and envelopes
    with embedded escapes/unicode land byte-identical."""
    import json as _json

    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    payloads = [
        None,
        _json.dumps({"s": 'quote " backslash \\ newline \n tab \t'}),
        _json.dumps({"u": "héllo 你好 \U0001F600"}),
        "null",
    ]
    df = spark.createDataFrame(
        [(1, p) for p in payloads], "collector_id long, envelope string"
    )
    sink(df, epoch_id=0)
    with open(out, encoding="utf-8") as fh:
        lines = [line.rstrip("\n") for line in fh]
    assert len(lines) == 4  # NULL row accounted for, not dropped
    assert lines.count("null") == 2
    decoded = [_json.loads(line) for line in lines]
    assert {"s": 'quote " backslash \\ newline \n tab \t'} in decoded
    assert {"u": "héllo 你好 \U0001F600"} in decoded


def test_queue_sink_torn_commit_line_isolated_and_replayed(spark, tmp_path):
    """Round-9 review fix: a commit torn MID-NUMBER ('0,1' of '0,123')
    must parse as UNCOMMITTED (the ',end' terminator) — a bare int
    parse would accept a WRONG offset and the next epoch's truncate
    would wipe published rows — and the next append must start on its
    own line instead of concatenating into the torn bytes."""
    import json as _json

    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    b0 = spark.createDataFrame(
        [(1, _json.dumps({"i": i})) for i in range(10)],
        "collector_id long, envelope string",
    )
    sink(b0, 0)
    with open(out + ".commits", "w") as fh:
        fh.write("0,1")  # torn mid-offset, no newline, no terminator
    assert sink._commits() == {}  # treated as uncommitted
    sink(b0, 0)  # replay: truncate to last good offset (0) + republish
    b1 = spark.createDataFrame(
        [(1, _json.dumps({"i": 100 + i})) for i in range(5)],
        "collector_id long, envelope string",
    )
    sink(b1, 1)
    with open(out) as fh:
        got = sorted(_json.loads(line)["i"] for line in fh)
    assert got == list(range(10)) + list(range(100, 105))
    assert set(sink._commits()) == {0, 1}


def test_queue_sink_legacy_two_field_commit_log(spark, tmp_path):
    """Round-10 ADVICE fix: a commit log written BEFORE the ',end'
    terminator change holds newline-complete 'epoch,offset' records.
    They must parse as COMMITTED — treating them as uncommitted sets
    base=0 and the next epoch's truncate(0) erases every previously
    published queue row. Mixed old+new logs (first post-upgrade epoch)
    must honour both; a torn legacy tail (no newline) stays uncommitted."""
    import json as _json

    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    b0 = spark.createDataFrame(
        [(1, _json.dumps({"i": i})) for i in range(10)],
        "collector_id long, envelope string",
    )
    sink(b0, 0)
    end0 = os.path.getsize(out)
    # Rewrite the log as the pre-upgrade format would have left it.
    with open(out + ".commits", "w") as fh:
        fh.write(f"0,{end0}\n")
    assert sink._commits() == {0: end0}
    b1 = spark.createDataFrame(
        [(1, _json.dumps({"i": 100 + i})) for i in range(5)],
        "collector_id long, envelope string",
    )
    sink(b1, 1)  # first post-upgrade epoch: must NOT truncate to 0
    with open(out) as fh:
        got = sorted(_json.loads(line)["i"] for line in fh)
    assert got == list(range(10)) + list(range(100, 105))
    assert sink._commits()[0] == end0  # mixed log: legacy row still seen
    assert set(sink._commits()) == {0, 1}
    # Torn legacy tail (crashed mid-write, no newline) stays uncommitted.
    with open(out + ".commits", "a") as fh:
        fh.write("2,99")
    assert set(sink._commits()) == {0, 1}


def test_queue_sink_stale_parts_from_crashed_attempt(spark, tmp_path):
    """Round-8 fuzz: an epoch attempt that crashed AFTER writing part
    files but BEFORE the commit may replay with a DIFFERENT
    partitioning (AQE re-plan after restart). Stale higher-numbered
    part files must not be appended next to the fresh ones — the
    replay clears the epoch scratch before republishing — and neither
    may the text writer's own ``_temporary/`` task output or its
    ``_SUCCESS`` marker."""
    import json as _json

    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    # simulate the crashed 8-partition attempt: stale parts + a torn tmp
    epoch_dir = os.path.join(out + ".epochs", "epoch=0")
    os.makedirs(epoch_dir)
    for pid in (3, 7):
        with open(os.path.join(epoch_dir, f"part-{pid:05d}"), "w") as fh:
            fh.write('{"stale": %d}\n' % pid)
    with open(os.path.join(epoch_dir, ".part-00009.tmp"), "w") as fh:
        fh.write('{"torn": true}')
    # ... and the writer's own leftovers: an uncommitted task's output
    # under _temporary/ and a _SUCCESS marker.
    task_dir = os.path.join(epoch_dir, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(task_dir)
    with open(os.path.join(task_dir, "part-00000-x.txt"), "w") as fh:
        fh.write('{"uncommitted": true}\n')
    with open(os.path.join(epoch_dir, "_SUCCESS"), "w") as fh:
        fh.write('{"success": true}\n')
    # the replay runs with 2 partitions
    df = spark.createDataFrame(
        [(1, _json.dumps({"i": i})) for i in range(6)],
        "collector_id long, envelope string",
    ).repartition(2)
    sink(df, epoch_id=0)
    with open(out) as fh:
        got = sorted(_json.loads(line).get("i", -1) for line in fh)
    assert got == list(range(6)), got  # no stale/torn rows, no drops


def test_queue_sink_multi_partition_epoch_lands_in_partition_order(spark, tmp_path):
    """The part files of one epoch are appended in partition order, so
    the queue holds the batch exactly as ``collect()`` returns it —
    not merely the same multiset."""
    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    # a permutation of 0..39 spread over 8 partitions: partition order
    # is neither the value order nor the order of the file names' ids
    df = spark.range(0, 40, numPartitions=8).select(
        F.lit(1).cast("long").alias("collector_id"),
        F.to_json(F.struct(((F.col("id") * 7) % 40).alias("i"))).alias("envelope"),
    )
    assert df.rdd.getNumPartitions() == 8
    sink(df, epoch_id=0)
    with open(out, encoding="utf-8") as fh:
        lines = [line.rstrip("\n") for line in fh]
    assert lines == [r["envelope"] for r in df.collect()]
    assert lines != sorted(lines)


def test_queue_sink_zero_row_epoch_commits_and_next_epoch_appends(spark, tmp_path):
    """An empty micro-batch appends nothing but still records its
    commit (so it is never replayed), and the next epoch appends right
    after the previous data."""
    out = str(tmp_path / "queue.jsonl")
    sink = QueueFileSink(out)
    schema = "collector_id long, envelope string"
    sink(spark.createDataFrame([(1, '{"i":0}')], schema), epoch_id=0)
    end0 = os.path.getsize(out)
    sink(spark.createDataFrame([], schema), epoch_id=1)
    assert os.path.getsize(out) == end0
    assert sink._commits() == {0: end0, 1: end0}
    sink(spark.createDataFrame([(1, '{"i":2}')], schema), epoch_id=2)
    with open(out, encoding="utf-8") as fh:
        assert fh.read() == '{"i":0}\n{"i":2}\n'
    assert os.listdir(out + ".epochs") == []


def test_replay_source_survives_torn_lines_and_corrupt_cursor(spark, tmp_path):
    """Round-8 fuzz of the replay source's restart path: a capture file
    with torn/garbage lines (writer crash mid-append) must not kill the
    task — torn lines flow through as topic-less raw bodies that the
    normalize routes drop — and a corrupt rate-limit cursor sidecar
    must be treated as absent, not brick the restart."""
    feed = tmp_path / "feed"
    feed.mkdir()
    good = json.dumps({
        "topic": "gateway/aabb/rx",
        "value": json.dumps({"phyPayload": DATA_UP_B64,
                             "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}),
        "ts": 1700000000,
    })
    lines = [
        good,
        '{"topic": "gateway/aabb/rx", "value": "{\\"phyPa',  # torn mid-write
        "not json at all \x00\xc3\xa9",                       # garbage
        '["array", "not", "object"]',                          # wrong JSON shape
        '{"topic": null, "value": null, "ts": null}',          # all-NULL envelope
        good,
    ]
    with open(feed / "collector_55.jsonl", "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    cursor = tmp_path / "cursor_55.json"
    cursor.write_text('{"torn json')  # crashed mid-dump

    register_sources(spark)
    from rolaguard_data_collectors_spark.streaming.normalize import (
        normalize_chirpstack,
    )

    raw = (
        spark.readStream.format("lorawan_replay")
        .option("path", str(feed))
        .option("cursorPath", str(cursor))
        .load()
    )
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    from rolaguard_data_collectors_spark.streaming.sink import (
        start_envelope_queue_sink,
    )

    q = start_envelope_queue_sink(
        normalize_chirpstack(raw),
        out_path=str(out_dir / "queue.jsonl"),
        checkpoint=str(out_dir / "ckpt"),
    )
    import time as _time

    try:
        q.processAllAvailable()
        # commit() (which rewrites the cursor sidecar) lands after the
        # batch completes — poll briefly for the clean rewrite
        deadline = _time.time() + 15
        rewritten = None
        while _time.time() < deadline:
            try:
                rewritten = json.loads(cursor.read_text())
                break
            except ValueError:
                _time.sleep(0.25)
                q.processAllAvailable()
    finally:
        q.stop()
    with open(out_dir / "queue.jsonl") as fh:
        envs = [json.loads(line) for line in fh]
    # exactly the two well-formed frames survive routing; every torn/
    # garbage line was read (offsets advanced past them) and dropped
    assert len(envs) == 2
    assert all(e["packet"]["dev_addr"] == "017fc1c4" for e in envs)
    # the cursor was rewritten cleanly on commit
    assert rewritten is not None, "cursor never rewritten"
    assert rewritten[str(feed / "collector_55.jsonl")] == 6


# --- orchestrator (EP2) ---------------------------------------------------


def _write_feed(path, n, gw="aabb"):
    with open(path, "w") as fh:
        for i in range(n):
            body = {
                "phyPayload": DATA_UP_B64,
                "rxInfo": {"rssi": -60.0, "loRaSNR": 7.0, "frequency": 868100000,
                           "mac": "aabbccddeeff0011"},
            }
            fh.write(
                json.dumps(
                    {"topic": f"gateway/{gw}/rx", "value": json.dumps(body), "ts": 1700000000 + i}
                )
                + "\n"
            )


def test_collector_manager_lifecycle(spark, tmp_path):
    feed = tmp_path / "feed_a"
    feed.mkdir()
    _write_feed(feed / "collector_11.jsonl", 12)
    mgr = CollectorManager(spark, str(tmp_path / "out"))
    os.makedirs(tmp_path / "out", exist_ok=True)
    cfg = CollectorConfig(
        id=11,
        type="chirpstack_collector",
        source_format="lorawan_replay",
        source_options={"path": str(feed), "batchSize": "5"},
    )
    mgr.handle_event({"type": "CREATED", "config": cfg})
    mgr.process_all()
    mgr.handle_event({"type": "DISABLED", "id": 11})
    qfile = tmp_path / "out" / "queue_11.jsonl"
    with open(qfile) as fh:
        lines = [json.loads(line) for line in fh]
    assert len(lines) == 12
    assert lines[0]["packet"]["dev_addr"] == "017fc1c4"
    # change-only status events: CONNECTED then DISCONNECTED, no dups
    assert [(e.data_collector_id, e.status) for e in mgr.status_events] == [
        (11, "CONNECTED"),
        (11, "DISCONNECTED"),
    ]
    # ENABLED restarts from the checkpoint: no new rows (feed consumed,
    # offsets persisted) and no duplicate publishes.
    mgr.handle_event({"type": "ENABLED", "id": 11})
    mgr.process_all()
    mgr.stop_all()
    with open(qfile) as fh:
        assert len(fh.readlines()) == 12


def test_collector_manager_test_probe(spark, tmp_path):
    feed = tmp_path / "feed_b"
    feed.mkdir()
    _write_feed(feed / "collector_21.jsonl", 3)
    mgr = CollectorManager(spark, str(tmp_path / "out2"))
    os.makedirs(tmp_path / "out2", exist_ok=True)
    cfg = CollectorConfig(
        id=21,
        type="chirpstack_collector",
        source_format="lorawan_replay",
        source_options={"path": str(feed), "batchSize": "10"},
    )
    mgr.handle_event({"type": "TEST", "config": cfg})
    assert [(e.status, e.type) for e in mgr.status_events] == [("TEST", "SUCCESS")]


def test_attach_parsed_streaming_ignores_distinct_strategy(spark):
    """A readStream frame must take the per-row memo path even when
    the batch DECODE_STRATEGY is 'distinct' — a stream can't
    dropDuplicates-and-join its own derivative inside a microbatch."""
    from rolaguard_data_collectors_spark.streaming import normalize as nz

    sdf = (
        spark.readStream.format("rate").load()
        .selectExpr("CAST(value AS STRING) AS data")
    )
    old = nz.DECODE_STRATEGY
    nz.DECODE_STRATEGY = "distinct"
    try:
        out = nz._attach_parsed(sdf)
    finally:
        nz.DECODE_STRATEGY = old
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" not in plan and "Join" not in plan


# --- round 7: adversarial-corpus stream == batch-shadow equivalence -------
#
# The same hand-adversarial events shapes the oracle fuzz uses
# (tests/test_parity_fuzz.py: NULL user/value/props, identical
# timestamps, session-gap boundaries) through the REAL
# applyInPandasWithState twins. The batch shadows are DuckDB-oracled
# on this corpus, so equality here transitively proves
# stream == batch == oracle on inputs the generated feed never
# produces — NULL grouping keys through the state key being the
# riskiest (a None key per state group).

_ADV_EVENTS = [
    # (event_id, ts_offset_s, user_id, event_type, value, props)
    (0, 0, 1, "signup", 1.0, '{"k": 1}'),
    (1, 0, 1, "purchase", 2.0, '{"k": 2}'),
    (2, 0, 1, "error", 3.0, '{"k": 3}'),
    (3, 1800, 1, "purchase", 4.0, '{"k": 4}'),
    (4, 3601, 1, "view", 5.0, None),
    (5, 300, None, "view", 6.0, '{"k": 6}'),
    (6, 360, 2, "purchase", None, '{"k": 7}'),
    (7, 7200, 3, "signup", 8.0, '{"k": 8}'),
    (8, 10800, 4, "error", 9.0, '{"k": 9}'),
    (9, 10860, 4, "purchase", 10.0, '{"k": 10}'),
    (10, 10920, 4, "error", 11.0, '{"k": 11}'),
    (11, 14400, 5, "view", 12.0, '{"k": 12}'),
    (12, 17999, 5, "view", 13.0, '{"k": 13}'),
    # round 7: NULL event timestamps — the arrival-order spec is
    # NULLS FIRST (operators/stateful.py _ARRIVAL), which pandas'
    # default NaT-last sort_values contradicted until _sorted_rows
    # pinned na_position='first'. All-NULL user, NULL user+ts, and
    # mixed NULL/stamped within user 5 (the shape where the order
    # actually changes which row is "previous").
    (13, None, 6, "view", 14.0, '{"k": 14}'),
    (14, None, 6, "purchase", 15.0, '{"k": 15}'),
    (15, None, None, "view", 16.0, '{"k": 16}'),
    (16, None, 5, "view", 17.0, '{"k": 17}'),
    # pre-1970 (negative-epoch) and sub-second timestamps: the stream
    # twins must order and stamp these identically to the batch
    # shadows (mirrors the oracle-fuzz corpus rows 17-19)
    (17, -1728000000, 7, "purchase", 18.0, '{"k": 18}'),
    (18, -1728001801, 7, "view", 19.5, '{"k": 19}'),
    (19, 1.999999, 7, "purchase", 20.0, '{"k": 20}'),
]


@pytest.fixture(scope="module")
def adv_events_env(spark, tmp_path_factory):
    """(parquet_dir, feed_dir) for the adversarial corpus: parquet for
    the batch shadows, a (ts, event_id)-ordered JSONL feed for the
    replay-source stream."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    d = tmp_path_factory.mktemp("adv_events")
    pq_dir, feed_dir = d / "pq", d / "feed"
    pq_dir.mkdir(), feed_dir.mkdir()
    rows = [
        {
            "event_id": i,
            "ts": pd.NaT if off is None else base + pd.Timedelta(seconds=off),
            "user_id": uid,
            "event_type": et,
            "value": v,
            "props": pr,
        }
        for i, off, uid, et, v, pr in _ADV_EVENTS
    ]
    pdf = pd.DataFrame(rows)
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    pdf.to_parquet(os.path.join(pq_dir, "events.parquet"), index=False)
    # NaT-first to mirror the NULLS FIRST arrival-order spec (the feed
    # order only matters for replay determinism, but keeping it aligned
    # with the spec makes the fixture self-describing)
    ordered = sorted(
        rows,
        key=lambda r: (pd.notna(r["ts"]), r["ts"].timestamp() if pd.notna(r["ts"]) else 0, r["event_id"]),
    )
    with open(feed_dir / "collector_1.jsonl", "w") as fh:
        for r in ordered:
            fh.write(
                json.dumps(
                    {
                        "topic": "events",
                        "value": json.dumps(
                            {
                                "event_id": r["event_id"],
                                "user_id": None if pd.isna(r["user_id"]) else int(r["user_id"]),
                                "ts": None if pd.isna(r["ts"]) else r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                                "event_type": r["event_type"],
                                "value": None if pd.isna(r["value"]) else r["value"],
                                "props": r["props"],
                            }
                        ),
                        "ts": 0 if pd.isna(r["ts"]) else int(r["ts"].timestamp()),
                    }
                )
                + "\n"
            )
    return str(pq_dir), str(feed_dir)


@pytest.mark.parametrize(
    "stream_fn,shadow_fn,cols,mode",
    [
        (live.prev_packet_correlation_stream, batch_shadows.prev_packet_correlation,
         ["event_id", "user_id", "f_count", "gw_value", "merged"], "append"),
        (live.device_map_enrich_stream, batch_shadows.device_map_enrich,
         ["event_id", "user_id", "dev_registration"], "append"),
        (live.location_propagation_stream, batch_shadows.location_propagation,
         ["event_id", "user_id", "latitude"], "append"),
        (live.status_change_detection_stream, batch_shadows.status_change_detection,
         ["event_id", "user_id", "status", "prev_status"], "update"),
    ],
)
def test_stateful_stream_adversarial_matches_batch_shadow(
    spark, adv_events_env, stream_fn, shadow_fn, cols, mode
):
    pq_dir, feed_dir = adv_events_env
    name = f"fz_{stream_fn.__name__}"
    _run_to_memory(
        stream_fn(_events_stream(spark, feed_dir, batch_size=3)), name, mode
    )
    got = _rows_set(spark.sql(f"select * from {name}"), cols)
    want = _rows_set(shadow_fn(spark, pq_dir), cols)
    assert got == want
