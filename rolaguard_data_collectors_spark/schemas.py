"""Canonical schemas for the engine (SURVEY.md §1, FIXTURES.md F1-F6).

The reference normalizes every source into one wide flat ``packet``
dict (canonical column list: reference ``auditing/db/Service.py:7-46``
plus collector-only extras). Here that is a fixed, fully-nullable
``StructType``; sources project into it with ``lit(None)`` for absent
columns and ``unionByName``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- F1: the normalized packet table -------------------------------------
# Reference: packet built field-by-field in each collector
# (GenericMqttCollector.py:108-161, LoraServerIOCollector.py:283-366,
# TTNCollector.py:227-262, TTNv3Collector.py:254-330); writer column
# list auditing/db/Service.py:7-46.
PACKET_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("topic", T.StringType()),
        T.StructField("data_collector_id", T.LongType()),
        T.StructField("organization_id", T.LongType()),
        T.StructField("gateway", T.StringType()),
        T.StructField("gw_name", T.StringType()),
        T.StructField("tmst", T.DoubleType()),
        T.StructField("chan", T.IntegerType()),
        T.StructField("rfch", T.IntegerType()),
        T.StructField("freq", T.DoubleType()),
        T.StructField("stat", T.IntegerType()),
        T.StructField("modu", T.StringType()),
        T.StructField("datr", T.StringType()),
        T.StructField("codr", T.StringType()),
        T.StructField("lsnr", T.DoubleType()),
        T.StructField("rssi", T.DoubleType()),
        T.StructField("size", T.IntegerType()),
        T.StructField("data", T.StringType()),
        T.StructField("m_type", T.StringType()),
        T.StructField("major", T.StringType()),
        T.StructField("mic", T.StringType()),
        T.StructField("join_eui", T.StringType()),
        T.StructField("dev_eui", T.StringType()),
        T.StructField("dev_nonce", T.IntegerType()),
        T.StructField("dev_addr", T.StringType()),
        T.StructField("adr", T.BooleanType()),
        T.StructField("ack", T.BooleanType()),
        T.StructField("adr_ack_req", T.BooleanType()),
        T.StructField("f_pending", T.BooleanType()),
        T.StructField("class_b", T.BooleanType()),
        T.StructField("f_count", T.LongType()),
        T.StructField("f_opts", T.StringType()),
        T.StructField("f_port", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("app_name", T.StringType()),
        T.StructField("dev_name", T.StringType()),
        T.StructField("seqn", T.StringType()),
        T.StructField("opts", T.StringType()),
        T.StructField("port", T.IntegerType()),
    ]
)

PACKET_COLUMNS = [f.name for f in PACKET_SCHEMA.fields]


# --- F2: generic packet-forwarder MQTT JSON (GenericMqttCollector.py:119-151)
MQTT_FORWARDER_SCHEMA = T.StructType(
    [
        T.StructField("data", T.StringType()),  # base64, possibly unpadded
        T.StructField("chan", T.IntegerType()),
        T.StructField("stat", T.IntegerType()),
        T.StructField("lsnr", T.DoubleType()),
        T.StructField("rssi", T.DoubleType()),
        T.StructField("tmst", T.LongType()),
        T.StructField("rfch", T.IntegerType()),
        T.StructField("freq", T.DoubleType()),
        T.StructField("modu", T.StringType()),
        T.StructField("datr", T.StringType()),  # "SF7BW125"
        T.StructField("codr", T.StringType()),
        T.StructField("size", T.IntegerType()),
        T.StructField("seqn", T.StringType()),
        T.StructField("opts", T.StringType()),
        T.StructField("port", T.IntegerType()),
    ]
)

# --- F3: ChirpStack MQTT (LoraServerIOCollector.py:311-360) --------------
_RADIO_DATARATE = T.StructType(
    [
        T.StructField("modulation", T.StringType()),
        T.StructField("spreadFactor", T.IntegerType()),
        T.StructField("bandwidth", T.IntegerType()),
    ]
)
_CHIRPSTACK_RXTX = T.StructType(
    [
        T.StructField("channel", T.IntegerType()),
        T.StructField("rfChain", T.IntegerType()),
        T.StructField("crcStatus", T.IntegerType()),
        T.StructField("codeRate", T.StringType()),
        T.StructField("rssi", T.DoubleType()),
        T.StructField("loRaSNR", T.DoubleType()),
        T.StructField("size", T.IntegerType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("frequency", T.LongType()),
        T.StructField("mac", T.StringType()),
        T.StructField("gatewayID", T.StringType()),  # base64 (protobuf variant)
        T.StructField("dataRate", _RADIO_DATARATE),
        T.StructField(
            "loRaModulationInfo",
            T.StructType(
                [
                    T.StructField("spreadingFactor", T.IntegerType()),
                    T.StructField("bandwidth", T.IntegerType()),
                    T.StructField("codeRate", T.StringType()),
                ]
            ),
        ),
    ]
)
CHIRPSTACK_GATEWAY_SCHEMA = T.StructType(
    [
        T.StructField("phyPayload", T.StringType()),
        T.StructField("rxInfo", _CHIRPSTACK_RXTX),
        T.StructField("txInfo", _CHIRPSTACK_RXTX),
    ]
)
CHIRPSTACK_JOIN_SCHEMA = T.StructType(
    [
        T.StructField("devAddr", T.StringType()),
        T.StructField("devEUI", T.StringType()),
    ]
)
_LOCATION = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
    ]
)
CHIRPSTACK_APPLICATION_SCHEMA = T.StructType(
    [
        T.StructField("fCnt", T.LongType()),
        T.StructField("applicationName", T.StringType()),
        T.StructField("deviceName", T.StringType()),
        T.StructField("devEUI", T.StringType()),
        T.StructField(
            "rxInfo",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("location", _LOCATION),
                    ]
                )
            ),
        ),
    ]
)

# --- F4: TTN v2 WebSocket payload (TTNCollector.py:226-239) --------------
TTN_V2_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType()),  # base64
        T.StructField("snr", T.DoubleType()),
        T.StructField("rssi", T.DoubleType()),
        T.StructField("timestamp", T.StringType()),  # ISO
        T.StructField("rfch", T.IntegerType()),
        T.StructField("frequency", T.DoubleType()),
        T.StructField("coding_rate", T.StringType()),
        T.StructField("dev_eui", T.StringType()),
    ]
)
TTN_V2_STATUS_SCHEMA = T.StructType(
    [T.StructField("status", T.StructType([T.StructField("location", _LOCATION)]))]
)

# --- F5: TTN v3 SSE event (TTNv3Collector.py:210-316) --------------------
TTN_V3_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("time", T.StringType()),  # ISO
        T.StructField(
            "identifiers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "gateway_ids",
                            T.StructType(
                                [
                                    T.StructField("gateway_id", T.StringType()),
                                    T.StructField("eui", T.StringType()),
                                ]
                            ),
                        )
                    ]
                )
            ),
        ),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("raw_payload", T.StringType()),
                    T.StructField(
                        "rx_metadata",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("snr", T.DoubleType()),
                                    T.StructField("rssi", T.DoubleType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField(
                        "settings",
                        T.StructType(
                            [
                                T.StructField("frequency", T.StringType()),
                                T.StructField("coding_rate", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "request",
                        T.StructType([T.StructField("rx1_frequency", T.StringType())]),
                    ),
                    T.StructField("antenna_locations", T.ArrayType(_LOCATION)),
                ]
            ),
        ),
    ]
)

# --- F6: collector config (Orchestrator.py:246-306 / db/DataCollector.py) -
COLLECTOR_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("organization_id", T.LongType()),
        T.StructField("type", T.StructType([T.StructField("type", T.StringType())])),
        T.StructField("ip", T.StringType()),
        T.StructField("port", T.StringType()),
        T.StructField("ssl", T.BooleanType()),
        T.StructField("user", T.StringType()),
        T.StructField("password", T.StringType()),
        T.StructField("topics", T.ArrayType(T.StringType())),
        T.StructField("gateway_id", T.StringType()),
        T.StructField("gateway_name", T.StringType()),
        T.StructField("gateway_api_key", T.StringType()),
        T.StructField("region_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("verified", T.BooleanType()),
    ]
)

# events.props raw JSON shape in the driver testdata ({"k": <int>}).
EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])
