"""Packet-stream stateful enrichment (SURVEY.md §2A ops 34-36 on the
real packet flow, reference LoraServerIOCollector.py:368-448 and
TTNCollector.py:202-247).

Two keyed stages over the normalized packet frame:

1. ``enrich_per_collector`` — keyed by ``data_collector_id``, exactly
   the reference's per-connection state (one collector = one MQTT
   connection): a ``devices_map`` dev_addr -> {dev_eui, app_name,
   dev_name} (op 35, :83) and the one-row ``prev_packet`` buffer
   (op 34, :79). A gateway packet whose dev_addr IS in the map is
   enriched and emitted immediately; an UNKNOWN dev_addr is buffered
   and only emitted when the NEXT message arrives — if that message is
   an application /rx with an equal ``f_count``, the devices_map entry
   is replaced from the app message and the buffered packet is emitted
   merged with the app's names/location; otherwise it flushes as
   buffered, with no upsert (:368-448). Application-route rows are
   never emitted as packets. Like the reference, the final buffered
   packet waits for a next arrival.
2. ``attach_location_by_gateway`` — keyed by ``gateway``; a
   GatewayStatus row stores its location, the next data packet for
   that gateway takes it, then the slot resets (op 36,
   TTNCollector.py:202-211, :241-247).

Keyless rows pass through untouched and write no state. Scale: stage 1
shuffles on collector id (state = one devices_map per collector — the
reference's exact memory profile; per-collector processing is
inherently sequential in the reference too); stage 2 shuffles on
gateway with O(1) state per key.

State width: the shuffle under each stage, and so its state-store
partition count, is ``spark.sql.shuffle.partitions`` when the query
first starts, fixed in its checkpoint from then on. The session sets it
to 1 (``session.py``): the collector queries are per collector, so
stage 1 holds one key and a wider state only adds a reducer task, a
Python state worker and a state-store commit per partition to every
trigger. A stream that feeds many keys into one query (several
collectors, or many gateways through stage 2) widens its state by
setting ``spark.sql.shuffle.partitions`` before its first start.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_NOKEY = -1  # collector ids are non-negative; gateway key uses a marker

# Columns stage 1 consumes/emits (identifiers + merge-relevant fields).
_DEV_COLS = [
    "_seq", "data_collector_id", "topic", "dev_addr", "dev_eui", "m_type",
    "f_count", "app_name", "dev_name", "gw_name",
    "latitude", "longitude", "altitude",
]

_DEV_OUT = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("data_collector_id", T.LongType()),
        T.StructField("topic", T.StringType()),
        T.StructField("dev_addr", T.StringType()),
        T.StructField("dev_eui", T.StringType()),
        T.StructField("m_type", T.StringType()),
        T.StructField("f_count", T.LongType()),
        T.StructField("app_name", T.StringType()),
        T.StructField("dev_name", T.StringType()),
        T.StructField("gw_name", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("merged", T.BooleanType()),
    ]
)

# State: the devices_map as JSON (dev_addr -> [eui, app, dev]) + the
# flattened 1-row prev_packet buffer.
_DEV_STATE = T.StructType(
    [
        T.StructField("devices_map", T.StringType()),
        T.StructField("buf_seq", T.LongType()),
        T.StructField("buf_topic", T.StringType()),
        T.StructField("buf_dev_addr", T.StringType()),
        T.StructField("buf_m_type", T.StringType()),
        T.StructField("buf_f_count", T.LongType()),
        T.StructField("has_buf", T.BooleanType()),
    ]
)

_GW_RE = re.compile(r"^gateway/.+/(rx|tx|up)$")
# reference matches ONLY application/*/device|node/*/rx
# (LoraServerIOCollector.py:404-405) — /up is not an app route there
_APP_RE = re.compile(r"application/.+?/(device|node)/.+/rx$")


def _nn(v):
    return None if pd.isna(v) else v


def _collector_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values("_seq")

    dmap_json, b_seq, b_topic, b_addr, b_mtype, b_fcnt, has_buf = (
        state.get if state.exists else (None, None, None, None, None, None, False)
    )
    dmap: dict = json.loads(dmap_json) if dmap_json else {}
    out: list[dict] = []

    def flush(merged_from=None):
        """Emit the buffered gateway packet. Unmerged flush emits it
        AS BUFFERED (no map re-consult — the reference saves
        prev_packet verbatim, :370-377). A merged flush reads the
        just-upserted map entry plus the app row's names/location
        (:443-448)."""
        nonlocal has_buf
        if not has_buf:
            return
        row = {
            "_seq": b_seq, "data_collector_id": key[0], "topic": b_topic,
            "dev_addr": b_addr, "dev_eui": None, "m_type": b_mtype,
            "f_count": b_fcnt, "app_name": None, "dev_name": None,
            "gw_name": None, "latitude": None, "longitude": None,
            "altitude": None, "merged": merged_from is not None,
        }
        if merged_from is not None:
            entry = dmap.get(b_addr or "", [None, None, None])
            row["dev_eui"] = entry[0]
            row["app_name"] = entry[1]
            row["dev_name"] = entry[2]
            row["gw_name"] = _nn(merged_from["gw_name"])
            row["latitude"] = _nn(merged_from["latitude"])
            row["longitude"] = _nn(merged_from["longitude"])
            row["altitude"] = _nn(merged_from["altitude"])
        out.append(row)
        has_buf = False

    for _, r in pdf.iterrows():
        topic = r["topic"] or ""
        fcnt = None if pd.isna(r["f_count"]) else int(r["f_count"])
        if _APP_RE.search(topic):
            # App route (:402-448): only ever acts on a buffered
            # packet; the app message itself is NEVER emitted as a
            # packet row. Merge iff frame counters match (:415), and
            # ONLY then is devices_map upserted — the reference
            # REPLACES the entry with the app message's values
            # (:438-441), it does not coalesce.
            if has_buf:
                if b_fcnt == fcnt:
                    if b_addr:
                        dmap[b_addr] = [
                            _nn(r["dev_eui"]), _nn(r["app_name"]), _nn(r["dev_name"])
                        ]
                    flush(merged_from=r)
                else:
                    flush()  # emit buffered unmerged; no upsert
        elif _GW_RE.match(topic):
            flush()
            addr = _nn(r["dev_addr"])
            if addr and addr in dmap:
                # known device: enrich from the map and emit
                # IMMEDIATELY — the reference only buffers packets
                # whose dev_addr is NOT in devices_map (:382-399)
                entry = dmap[addr]
                d = {c: _nn(r[c]) for c in _DEV_COLS}
                d["dev_eui"] = entry[0]
                d["app_name"] = entry[1]
                d["dev_name"] = entry[2]
                d["merged"] = False
                out.append(d)
            elif addr:
                # unknown device: buffer until the next arrival
                b_seq, b_topic, b_addr, b_mtype, b_fcnt, has_buf = (
                    int(r["_seq"]), topic, addr, _nn(r["m_type"]), fcnt, True,
                )
            else:
                # no dev_addr: nothing to correlate, emit as-is (:477)
                d = {c: _nn(r[c]) for c in _DEV_COLS}
                d["merged"] = False
                out.append(d)
        elif topic.endswith("/join"):
            # join route (:287-304): devices_map entry REPLACED with a
            # dev_eui-only record (names reset until the next app msg).
            # The reference returns early here — the prev_packet buffer
            # is NOT flushed by a join message.
            addr, eui = _nn(r["dev_addr"]), _nn(r["dev_eui"])
            if addr and eui:
                dmap[addr] = [eui, None, None]
            d = {c: _nn(r[c]) for c in _DEV_COLS}
            d["merged"] = False
            out.append(d)
        else:
            # any other topic (:457-472): flushes the buffered packet
            # first (reference saves prev_packet when standard_packet
            # stays empty), then records the skipped message.
            flush()
            d = {c: _nn(r[c]) for c in _DEV_COLS}
            d["merged"] = False
            out.append(d)

    state.update(
        (json.dumps(dmap) if dmap else None, b_seq, b_topic, b_addr, b_mtype,
         b_fcnt, has_buf)
    )
    yield pd.DataFrame(out, columns=[f.name for f in _DEV_OUT.fields])


def enrich_per_collector(packets: DataFrame) -> DataFrame:
    """Ops 34-35 over normalized packets (any source pipeline)."""
    keyed = packets.select(
        F.coalesce(F.col("data_collector_id"), F.lit(_NOKEY)).alias("_key"),
        *[F.col(c) for c in _DEV_COLS],
    )
    return keyed.groupBy("_key").applyInPandasWithState(
        _collector_fn, _DEV_OUT, _DEV_STATE, "append", GroupStateTimeout.NoTimeout
    )


_LOC_COLS = ["_seq", "gateway", "m_type", "latitude", "longitude", "altitude"]
_LOC_OUT = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("gateway", T.StringType()),
        T.StructField("m_type", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
    ]
)
_LOC_STATE = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("alt", T.DoubleType()),
    ]
)

_NOKEY_GW = "\x00nokey\x00"


def _location_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values("_seq")
    gateway = key[0]
    if gateway.startswith(_NOKEY_GW):
        yield pdf[_LOC_COLS]
        return
    lat, lon, alt = state.get if state.exists else (None, None, None)
    out = []
    for _, r in pdf.iterrows():
        if r["m_type"] == "GatewayStatus":
            lat, lon, alt = _nn(r["latitude"]), _nn(r["longitude"]), _nn(r["altitude"])
            # Status rows are consumed, not emitted (TTNCollector.py:202-211).
        else:
            out.append(
                {
                    "_seq": int(r["_seq"]), "gateway": gateway,
                    "m_type": _nn(r["m_type"]),
                    "latitude": lat, "longitude": lon, "altitude": alt,
                }
            )
            lat, lon, alt = None, None, None  # attach-then-reset (:247)
    state.update((lat, lon, alt))
    yield pd.DataFrame(out, columns=_LOC_COLS)


def attach_location_by_gateway(packets: DataFrame) -> DataFrame:
    """Op 36 over normalized packets: GatewayStatus rows feed the next
    data packet of the same gateway."""
    keyed = packets.select(
        F.coalesce(
            F.col("gateway"),
            F.concat(F.lit(_NOKEY_GW), F.col("_seq").cast("string")),
        ).alias("_key"),
        *[F.col(c) for c in _LOC_COLS],
    )
    return keyed.groupBy("_key").applyInPandasWithState(
        _location_fn, _LOC_OUT, _LOC_STATE, "append", GroupStateTimeout.NoTimeout
    )
