"""Control-plane sources (ops 5, 6, 10): config loading, control
event parsing + dispatch, dimension lookups."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.sources.control import (
    CONTROL_EVENT_SCHEMA,
    control_event_stream,
    dim_count,
    dim_find_collector_by_ip_port_and_type,
    dim_find_one,
    load_collector_configs,
)
from rolaguard_data_collectors_spark.streaming.orchestrator import CollectorManager

DATA_UP_B64 = "QMTBfwEAEQBd6f1YJ+K7NmuNmy/JpHTFQKI="


def _config(cid, ctype, ip, status="ENABLED"):
    return {
        "id": cid, "organization_id": 1, "type": {"type": ctype},
        "ip": ip, "port": "1883", "ssl": False, "user": None, "password": None,
        "topics": ["gateway/#"], "gateway_id": None, "gateway_name": None,
        "gateway_api_key": None, "region_id": None, "status": status,
        "verified": False,
    }


def test_load_collector_configs(spark, tmp_path):
    p = tmp_path / "configs.json"
    p.write_text(json.dumps([_config(1, "chirpstack_collector", "/feed/a"),
                             _config(2, "ttn_v3_collector", "/feed/b")]))
    df = load_collector_configs(spark, str(p))
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["type"]["type"] == "chirpstack_collector"
    assert rows[2]["ip"] == "/feed/b" and rows[2]["topics"] == ["gateway/#"]


def test_dim_lookups(spark, tmp_path):
    p = tmp_path / "dims.json"
    p.write_text(json.dumps([_config(1, "chirpstack_collector", "10.0.0.1"),
                             _config(2, "ttn_collector", "10.0.0.2"),
                             _config(3, "ttn_collector", "10.0.0.2")]))
    dim = load_collector_configs(spark, str(p))
    assert dim_count(dim) == 3
    one = dim_find_one(dim, F.col("id") == 2).collect()
    assert len(one) == 1 and one[0]["id"] == 2
    # three-predicate first-match (db/DataCollector.py:44-51)
    got = dim_find_collector_by_ip_port_and_type(
        dim, "10.0.0.2", "1883", "ttn_collector"
    ).collect()
    assert len(got) == 1 and got[0]["ip"] == "10.0.0.2"


def test_control_event_dispatch_drives_manager(spark, tmp_path):
    # a captured control queue: CREATED for a replay-backed collector,
    # then DISABLED
    feed = tmp_path / "pktfeed"
    feed.mkdir()
    body = {"phyPayload": DATA_UP_B64, "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}
    with open(feed / "collector_31.jsonl", "w") as fh:
        for i in range(4):
            fh.write(json.dumps({"topic": "gateway/aabb/rx", "value": json.dumps(body),
                                 "ts": 1700000000 + i}) + "\n")
    events = [
        {"type": "CREATED", "data": _config(31, "chirpstack_collector", str(feed)),
         "message": None},
        {"type": "DISABLED", "data": _config(31, "chirpstack_collector", str(feed)),
         "message": None},
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in events], "value string")
    parsed = control_event_stream(raw).collect()
    assert [r["type"] for r in parsed] == ["CREATED", "DISABLED"]

    out = tmp_path / "out"
    out.mkdir()
    mgr = CollectorManager(spark, str(out))
    mgr.handle_event_rows([parsed[0]])
    mgr.process_all()
    mgr.handle_event_rows([parsed[1]])
    with open(out / "queue_31.jsonl") as fh:
        assert len(fh.readlines()) == 4
    assert [(e.data_collector_id, e.status) for e in mgr.status_events] == [
        (31, "CONNECTED"), (31, "DISCONNECTED"),
    ]


def test_replay_collector_id_comes_from_config(spark, tmp_path):
    """A config's id is stamped on every envelope even when its capture
    is not named ``*_<id>.jsonl``: ``CollectorManager`` passes it as
    ``dataCollectorId``, and both replay readers honour it."""
    feed = tmp_path / "pktfeed"
    feed.mkdir()
    body = {"phyPayload": DATA_UP_B64, "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}
    with open(feed / "feed.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps({"topic": "gateway/aabb/rx", "value": json.dumps(body),
                                 "ts": 1700000000 + i}) + "\n")
    event = {"type": "CREATED", "data": _config(5, "chirpstack_collector", str(feed)),
             "message": None}
    raw = spark.createDataFrame([(json.dumps(event),)], "value string")
    out = tmp_path / "out"
    out.mkdir()
    mgr = CollectorManager(spark, str(out))
    mgr.handle_event_rows(control_event_stream(raw).collect())
    mgr.process_all()
    mgr.stop_all()
    with open(out / "queue_5.jsonl") as fh:
        envelopes = [json.loads(line) for line in fh]
    assert len(envelopes) == 3
    for env in envelopes:
        assert env["packet"]["data_collector_id"] == 5
        assert [m["data_collector_id"] for m in env["messages"]] == [5]

    batch = (
        spark.read.format("lorawan_replay")
        .option("path", str(feed))
        .option("dataCollectorId", "5")
        .load()
    )
    assert {r["data_collector_id"] for r in batch.collect()} == {5}


def test_control_event_dispatch_survives_malformed_sequences(spark, tmp_path):
    """Round-8 fuzz of the EP2 dispatch: unknown-id ENABLED/DISABLED
    (out-of-order control traffic), DELETED-then-ENABLED, a config-less
    CREATED, a NULL/unknown event type, and duplicate CREATED must not
    kill the control loop — failures surface as ERROR status events and
    a healthy collector processed afterwards still works end to end."""
    feed = tmp_path / "pktfeed"
    feed.mkdir()
    body = {"phyPayload": DATA_UP_B64,
            "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}
    with open(feed / "collector_41.jsonl", "w") as fh:
        for i in range(3):
            fh.write(json.dumps({"topic": "gateway/aabb/rx",
                                 "value": json.dumps(body),
                                 "ts": 1700000000 + i}) + "\n")
    events = [
        {"type": "DISABLED", "data": _config(99, "ttn_collector", "/nope"),
         "message": None},                                  # never created
        {"type": "ENABLED", "data": _config(98, "ttn_collector", "/nope"),
         "message": None},                                  # never created
        {"type": "CREATED", "data": None, "message": None},  # config-less
        {"type": None, "data": None, "message": None},       # NULL type
        {"type": "REBOOTED", "data": _config(97, "ttn_collector", "/nope"),
         "message": None},                                   # unknown type
        {"type": "CREATED", "data": _config(41, "chirpstack_collector",
                                            str(feed)), "message": None},
        {"type": "CREATED", "data": _config(41, "chirpstack_collector",
                                            str(feed)), "message": None},  # dup
        {"type": "DELETED", "data": _config(96, "ttn_collector", "/nope"),
         "message": None},                                   # unknown DELETE
    ]
    raw = spark.createDataFrame([(json.dumps(e),) for e in events],
                                "value string")
    parsed = control_event_stream(raw).collect()
    out = tmp_path / "out"
    out.mkdir()
    mgr = CollectorManager(spark, str(out))
    mgr.handle_event_rows(parsed)  # one call: a bad row must not stop later rows
    mgr.process_all()
    mgr.handle_event({"type": "DISABLED", "id": 41})
    # the healthy collector processed its feed despite earlier garbage
    with open(out / "queue_41.jsonl") as fh:
        assert len(fh.readlines()) == 3
    errors = [e for e in mgr.status_events if e.status == "ERROR"]
    # unknown-id DISABLED + unknown-id ENABLED + config-less CREATED +
    # NULL type + unknown type >= 5 isolated failures
    assert len(errors) >= 5
    # the healthy lifecycle events still emitted change-only
    assert [(e.data_collector_id, e.status)
            for e in mgr.status_events if e.status != "ERROR"] == [
        (41, "CONNECTED"), (41, "DISCONNECTED"),
    ]
    # DELETED then ENABLED (out of order): isolated, not a crash
    mgr.handle_event({"type": "DELETED", "id": 41})
    mgr.handle_event({"type": "ENABLED", "id": 41})
    assert mgr.status_events[-1].status == "ERROR"
    mgr.stop_all()

