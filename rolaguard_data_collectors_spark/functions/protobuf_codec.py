"""Minimal protobuf wire-format codec for the ChirpStack gateway
``gw.UplinkFrame`` message (SURVEY.md §2A op 15, reference
LoraServerIOCollector.py:253-263: JSON decode fails on a gateway
uplink -> ``gw.UplinkFrame.ParseFromString`` -> ``MessageToJson`` ->
the same JSON field handling).

pyspark does not bundle the spark-protobuf connector jar, and the
google.protobuf Python package is not a dependency, so this implements the public protobuf
wire encoding directly (varint / 64-bit / length-delimited / 32-bit —
the complete set of live wire types) plus an explicit field map
derived from the public chirpstack-api v3 ``gw.proto``. Both an
encoder (for tests/fixtures) and a decoder are provided; the decoder
output matches the MessageToJson-shaped JSON the normalize pipeline
already consumes, closing the loop without new plumbing.

Unknown fields are skipped by wire type — the parser tolerates newer
schema revisions, protobuf's own compatibility rule.
"""

from __future__ import annotations

import base64
import struct


# --- wire primitives ------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _write_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _skip(buf: bytes, i: int, wire: int) -> int:
    if wire == 0:
        _, i = _read_varint(buf, i)
        return i
    if wire == 1:
        return i + 8
    if wire == 2:
        n, i = _read_varint(buf, i)
        return i + n
    if wire == 5:
        return i + 4
    raise ValueError(f"unsupported wire type {wire}")


def parse_message(buf: bytes) -> dict[int, list]:
    """Raw parse: field number -> list of (wire, value) payloads."""
    fields: dict[int, list] = {}
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        fno, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _read_varint(buf, i)
        elif wire == 1:
            v = struct.unpack_from("<d", buf, i)[0]
            i += 8
        elif wire == 2:
            n, i = _read_varint(buf, i)
            v = buf[i : i + n]
            i += n
        elif wire == 5:
            v = struct.unpack_from("<f", buf, i)[0]
            i += 4
        else:
            i = _skip(buf, i, wire)
            continue
        fields.setdefault(fno, []).append(v)
    return fields


def _int32(v: int) -> int:
    """varint holding a negative int32/int64 is 2^64-complemented."""
    return v - (1 << 64) if v >= (1 << 63) else v


# --- gw.UplinkFrame schema (public chirpstack-api v3 gw.proto) ------------
# UplinkFrame:     1 phy_payload bytes | 2 tx_info UplinkTXInfo
#                  | 3 rx_info UplinkRXInfo
# UplinkTXInfo:    1 frequency uint32 | 3 lora_modulation_info
# LoRaModulationInfo: 1 bandwidth | 2 spreading_factor | 3 code_rate
# UplinkRXInfo:    1 gateway_id bytes
#                  | 2 time google.protobuf.Timestamp (wire 2, skipped)
#                  | 3 time_since_gps_epoch google.protobuf.Duration
#                    (wire 2 — NOT a scalar; GPS-equipped gateways set
#                    it, and the reference's protobuf branch never
#                    derives tmst from it, so bytes here are skipped
#                    and only a legacy wire-0 scalar is surfaced)
#                  | 5 rssi int32 | 6 lora_snr double | 7 channel
#                  | 8 rf_chain | 17 crc_status enum (OK=1)


def decode_uplink_frame(raw: bytes) -> dict:
    """gw.UplinkFrame bytes -> the MessageToJson-shaped dict the JSON
    pipeline consumes (base64 fields, camelCase keys)."""
    top = parse_message(raw)
    out: dict = {}
    if 1 in top:
        out["phyPayload"] = base64.b64encode(top[1][-1]).decode()
    rx: dict = {}
    if 3 in top:
        m = parse_message(top[3][-1])
        if 1 in m:
            rx["gatewayID"] = base64.b64encode(m[1][-1]).decode()
        if 3 in m and isinstance(m[3][-1], int):
            # only a legacy scalar; a Duration submessage parses as
            # bytes and must not leak into the JSON (json.dumps would
            # throw and drop the whole frame)
            rx["timestamp"] = m[3][-1]
        if 5 in m:
            rx["rssi"] = float(_int32(m[5][-1]))
        if 6 in m:
            rx["loRaSNR"] = float(m[6][-1])
        if 7 in m:
            rx["channel"] = m[7][-1]
        if 8 in m:
            rx["rfChain"] = m[8][-1]
        if 17 in m:
            rx["crcStatus"] = _int32(m[17][-1])
    tx: dict = {}
    if 2 in top:
        m = parse_message(top[2][-1])
        if 1 in m:
            # TXInfo frequency feeds the same Hz field the JSON path
            # reads from rxInfo in ChirpStack's JSON rendering.
            rx.setdefault("frequency", m[1][-1])
        if 3 in m:
            lm = parse_message(m[3][-1])
            info = {}
            if 1 in lm:
                info["bandwidth"] = lm[1][-1]
            if 2 in lm:
                info["spreadingFactor"] = lm[2][-1]
            if 3 in lm:
                info["codeRate"] = lm[3][-1].decode()
            rx["loRaModulationInfo"] = info
    if rx:
        out["rxInfo"] = rx
    if tx:
        out["txInfo"] = tx
    return _json_safe(out)


def _json_safe(doc):
    """Drop any value json.dumps cannot serialize (e.g. raw bytes from
    an unexpected submessage) instead of letting one field discard the
    whole frame downstream."""
    if isinstance(doc, dict):
        return {
            k: _json_safe(v)
            for k, v in doc.items()
            if isinstance(v, (str, int, float, bool, dict, list)) or v is None
        }
    if isinstance(doc, list):
        return [
            _json_safe(v)
            for v in doc
            if isinstance(v, (str, int, float, bool, dict, list)) or v is None
        ]
    return doc


def _field(fno: int, wire: int) -> bytes:
    return _write_varint(fno << 3 | wire)


def _len_field(fno: int, payload: bytes) -> bytes:
    return _field(fno, 2) + _write_varint(len(payload)) + payload


def encode_uplink_frame(
    phy_payload: bytes,
    gateway_id: bytes = b"",
    rssi: int = 0,
    lora_snr: float = 0.0,
    channel: int = 0,
    rf_chain: int = 0,
    timestamp: int = 0,
    frequency: int = 0,
    bandwidth: int = 125,
    spreading_factor: int = 7,
    code_rate: str = "4/5",
    crc_status: int = 1,
) -> bytes:
    """Inverse codec for fixtures/tests (round-trip partner)."""
    lm = (
        _field(1, 0) + _write_varint(bandwidth)
        + _field(2, 0) + _write_varint(spreading_factor)
        + _len_field(3, code_rate.encode())
    )
    tx = _field(1, 0) + _write_varint(frequency) + _len_field(3, lm)
    rx = (
        _len_field(1, gateway_id)
        + _field(3, 0) + _write_varint(timestamp)
        + _field(5, 0) + _write_varint(rssi & ((1 << 64) - 1))
        + _field(6, 1) + struct.pack("<d", lora_snr)
        + _field(7, 0) + _write_varint(channel)
        + _field(8, 0) + _write_varint(rf_chain)
        + _field(17, 0) + _write_varint(crc_status & ((1 << 64) - 1))
    )
    return _len_field(1, phy_payload) + _len_field(2, tx) + _len_field(3, rx)
