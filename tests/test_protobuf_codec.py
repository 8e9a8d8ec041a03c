"""Op 15: pure-Python gw.UplinkFrame wire codec — unit round trip and
the normalize_chirpstack protobuf fallback branch."""

from __future__ import annotations

import base64
import json

from rolaguard_data_collectors_spark.functions import protobuf_codec as pbc

DATA_UP_B64 = "QMTBfwEAEQBd6f1YJ+K7NmuNmy/JpHTFQKI="


def test_wire_roundtrip():
    phy = base64.b64decode(DATA_UP_B64)
    raw = pbc.encode_uplink_frame(
        phy_payload=phy,
        gateway_id=bytes.fromhex("aabbccddeeff0011"),
        rssi=-61,
        lora_snr=6.5,
        channel=3,
        rf_chain=1,
        timestamp=123456,
        frequency=868300000,
        bandwidth=125,
        spreading_factor=9,
        code_rate="4/5",
        crc_status=1,
    )
    doc = pbc.decode_uplink_frame(raw)
    assert base64.b64decode(doc["phyPayload"]) == phy
    rx = doc["rxInfo"]
    assert base64.b64decode(rx["gatewayID"]).hex() == "aabbccddeeff0011"
    assert rx["rssi"] == -61.0 and rx["loRaSNR"] == 6.5
    assert rx["channel"] == 3 and rx["rfChain"] == 1
    assert rx["timestamp"] == 123456 and rx["frequency"] == 868300000
    assert rx["crcStatus"] == 1
    assert rx["loRaModulationInfo"] == {
        "bandwidth": 125, "spreadingFactor": 9, "codeRate": "4/5",
    }


def test_unknown_fields_skipped():
    phy = b"\x01\x02"
    raw = pbc.encode_uplink_frame(phy_payload=phy)
    # append an unknown field (fno 99, varint) — must be ignored
    extra = raw + pbc._field(99, 0) + pbc._write_varint(7)
    assert base64.b64decode(pbc.decode_uplink_frame(extra)["phyPayload"]) == phy


def test_duration_field3_skipped_and_json_safe():
    """chirpstack-api v3 UplinkRXInfo field 3 is time_since_gps_epoch,
    a google.protobuf.Duration SUBMESSAGE (wire type 2) — it must not
    surface as a bytes 'timestamp' (json.dumps would throw and the
    frame would silently drop)."""
    import json as _json

    phy = base64.b64decode(DATA_UP_B64)
    base = pbc.encode_uplink_frame(phy_payload=phy, rssi=-61, lora_snr=6.5)
    # rebuild rx_info with field 3 as a Duration submessage {seconds=90}
    duration = pbc._field(1, 0) + pbc._write_varint(90)
    rx = (
        pbc._len_field(1, bytes.fromhex("aabbccddeeff0011"))
        + pbc._len_field(3, duration)  # wire type 2, NOT a scalar
        + pbc._field(5, 0) + pbc._write_varint((-61) & ((1 << 64) - 1))
    )
    frame = pbc._len_field(1, phy) + pbc._len_field(3, rx)
    doc = pbc.decode_uplink_frame(frame)
    assert "timestamp" not in doc["rxInfo"]
    _json.dumps(doc)  # must not raise
    # legacy wire-0 scalar still surfaces
    assert pbc.decode_uplink_frame(base)["rxInfo"]["timestamp"] == 0


def test_normalize_chirpstack_protobuf_fallback(spark):
    from tests.test_streaming import _raw_df
    from rolaguard_data_collectors_spark.streaming.normalize import (
        normalize_chirpstack,
    )

    phy = base64.b64decode(DATA_UP_B64)
    pb_raw = pbc.encode_uplink_frame(
        phy_payload=phy,
        gateway_id=bytes.fromhex("aabbccddeeff0011"),
        rssi=-61,
        lora_snr=6.5,
        frequency=868300000,
        spreading_factor=9,
    )
    rows = [
        # binary protobuf (base64 over the transport) on an /up topic
        {"seq": 0, "ts": 1700000000, "topic": "gateway/aabb/up",
         "value": base64.b64encode(pb_raw).decode(),
         "data_collector_id": 5, "organization_id": 1},
        # plain JSON on the same route still works
        {"seq": 1, "ts": 1700000001, "topic": "gateway/aabb/up",
         "value": json.dumps({"phyPayload": DATA_UP_B64,
                              "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}),
         "data_collector_id": 5, "organization_id": 1},
    ]
    out = {r["_seq"]: r.asDict() for r in normalize_chirpstack(_raw_df(spark, rows)).collect()}
    pb = out[0]
    assert pb["m_type"] == "UnconfirmedDataUp" and pb["dev_addr"] == "017fc1c4"
    assert pb["gateway"] == "aabbccddeeff0011"  # b64 gatewayID -> hex (op 25)
    assert pb["rssi"] == -61.0 and pb["lsnr"] == 6.5
    assert pb["freq"] == 868.3
    assert json.loads(pb["datr"]) == {"spread_factor": "9", "bandwidth": "125"}
    js = out[1]
    assert js["m_type"] == "UnconfirmedDataUp" and js["rssi"] == -60.0
