"""Packet-level stateful enrichment (ops 34-36 on the real packet
stream): scripted arrival sequences through replay source ->
normalize -> applyInPandasWithState, asserting the reference's
flush-or-merge and attach-then-reset rules."""

from __future__ import annotations

import json

import pytest

from rolaguard_data_collectors_spark.sources import register_sources
from rolaguard_data_collectors_spark.streaming.enrich import (
    attach_location_by_gateway,
    enrich_per_collector,
)
from rolaguard_data_collectors_spark.streaming.normalize import (
    normalize_chirpstack,
    normalize_ttn_v2,
)

# UnconfirmedDataUp devAddr=017fc1c4 fCnt=17 (tests/test_streaming.py)
DATA_UP_B64 = "QMTBfwEAEQBd6f1YJ+K7NmuNmy/JpHTFQKI="
# A ChirpStack gateway uplink carrying that frame, and the application
# message whose fCnt matches it.
_GW_MSG = json.dumps(
    {"phyPayload": DATA_UP_B64,
     "rxInfo": {"rssi": -60.0, "loRaSNR": 7.0, "frequency": 868100000,
                "mac": "aabbccddeeff0011"}}
)
_APP_MATCH = json.dumps(
    {"fCnt": 17, "applicationName": "app-x", "deviceName": "dev-x",
     "devEUI": "b827eb891cf50003",
     "rxInfo": [{"name": "gw-east",
                 "location": {"latitude": 1.5, "longitude": 2.5, "altitude": 9.0}}]}
)


def _stream_feed(spark, tmp_path, name, records, batch_size=2):
    register_sources(spark)
    d = tmp_path / name
    d.mkdir()
    with open(d / "collector_1.jsonl", "w") as fh:
        for i, (topic, value) in enumerate(records):
            fh.write(
                json.dumps({"topic": topic, "value": value, "ts": 1700000000 + i})
                + "\n"
            )
    return (
        spark.readStream.format("lorawan_replay")
        .option("path", str(d))
        .option("batchSize", batch_size)
        .load()
    )


def _drain_to(spark, df, name):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    return [r.asDict() for r in spark.sql(f"select * from {name} order by _seq").collect()]


def test_dev_addr_merge_and_flush(spark, tmp_path):
    join_msg = json.dumps({"devAddr": "017fc1c4", "devEUI": "b827eb891cf50003"})
    records = [
        ("gateway/aabb/rx", _GW_MSG),                              # 0: unknown -> buffered
        ("application/1/device/b827eb891cf50003/rx", _APP_MATCH),  # 1: merges 0, upserts map
        ("gateway/aabb/rx", _GW_MSG),                              # 2: known -> immediate
        ("v1/join", join_msg),                                    # 3: map reset to eui-only
        ("gateway/aabb/rx", _GW_MSG),                              # 4: known (eui-only) -> immediate
    ]
    raw = _stream_feed(spark, tmp_path, "feed_devaddr", records)
    rows = _drain_to(spark, enrich_per_collector(normalize_chirpstack(raw)), "enr_dev")
    by_seq = {r["_seq"]: r for r in rows}
    # gateway packet 0 (unknown dev_addr) emitted MERGED with app names
    # + location when the matching fCnt app message arrives (op 34)
    m = by_seq[0]
    assert m["merged"] is True
    assert m["app_name"] == "app-x" and m["dev_name"] == "dev-x"
    assert m["gw_name"] == "gw-east" and m["latitude"] == 1.5
    assert m["f_count"] == 17 and m["dev_eui"] == "b827eb891cf50003"
    # the merging app message is absorbed into the merged packet, not
    # emitted separately (reference :402-448 never emits app rows)
    assert 1 not in by_seq
    # packet 2: dev_addr now KNOWN -> enriched + emitted immediately,
    # no buffering (reference :382-391)
    k = by_seq[2]
    assert k["merged"] is False and k["dev_eui"] == "b827eb891cf50003"
    assert k["app_name"] == "app-x" and k["dev_name"] == "dev-x"
    # join row emitted as-is; it RESETS the map entry to dev_eui only
    # (reference :287-289 replaces the dict)
    assert by_seq[3]["dev_eui"] == "b827eb891cf50003"
    # packet 4: still known (eui-only entry) -> immediate, names gone
    k4 = by_seq[4]
    assert k4["merged"] is False and k4["dev_eui"] == "b827eb891cf50003"
    assert k4["app_name"] is None and k4["dev_name"] is None


def test_unmatched_fcnt_flush_no_upsert(spark, tmp_path):
    """An app message whose fCnt does NOT match the buffered packet
    flushes the buffer unmerged, performs NO devices_map upsert, and is
    itself dropped (reference :415 merge guard; :477 save)."""
    app_nomatch = json.dumps(
        {"fCnt": 99, "applicationName": "app-x", "deviceName": "dev-x",
         "devEUI": "b827eb891cf50003",
         "rxInfo": [{"name": "gw-east",
                     "location": {"latitude": 1.5, "longitude": 2.5, "altitude": 9.0}}]}
    )
    app_up = json.dumps({"fCnt": 17, "devEUI": "b827eb891cf50003"})
    records = [
        ("gateway/aabb/rx", _GW_MSG),                                # 0: buffered
        ("application/1/device/b827eb891cf50003/rx", app_nomatch),  # 1: flush 0 unmerged
        ("gateway/aabb/rx", _GW_MSG),                                # 2: STILL unknown -> buffered
        ("application/1/device/b827eb891cf50003/up", app_up),       # 3: /up is NOT an app route
    ]
    raw = _stream_feed(spark, tmp_path, "feed_nomatch", records)
    rows = _drain_to(spark, enrich_per_collector(normalize_chirpstack(raw)), "enr_nm")
    by_seq = {r["_seq"]: r for r in rows}
    # buffered packet flushed unmerged, not enriched (no upsert happened)
    f = by_seq[0]
    assert f["merged"] is False and f["dev_eui"] is None and f["app_name"] is None
    # the unmatched app message itself is never emitted
    assert 1 not in by_seq
    # packet 2 buffered again (dev_addr still unknown, since no upsert
    # happened); the /up topic is NOT an application route under the
    # reference's regex — it lands in the OTHER branch, which flushes
    # the buffer unmerged and emits the skipped row itself
    f2 = by_seq[2]
    assert f2["merged"] is False and f2["dev_eui"] is None
    assert 3 in by_seq


def test_multi_collector_concurrent_lifecycle(spark, tmp_path):
    """Three collectors of different source types running concurrently
    under one CollectorManager; an UPDATED event rebuilds one of them
    mid-run without disturbing the others (EP2, Orchestrator.py:185-219)."""
    from rolaguard_data_collectors_spark.streaming.orchestrator import (
        CollectorConfig,
        CollectorManager,
    )

    register_sources(spark)
    out = tmp_path / "out"
    out.mkdir()
    feeds = {}
    chirp = json.dumps(
        {"phyPayload": DATA_UP_B64,
         "rxInfo": {"rssi": -60.0, "mac": "aabbccddeeff0011"}}
    )
    ttn3 = json.dumps(
        {"name": "gs.up.receive", "time": "2024-01-05T10:00:00Z",
         "identifiers": [{"gateway_ids": {"gateway_id": "g", "eui": "AA"}}],
         "data": {"raw_payload": DATA_UP_B64,
                  "rx_metadata": [{"snr": 7.0, "rssi": -50.0}],
                  "settings": {"frequency": "868100000", "coding_rate": "4/5"}}}
    )
    mqtt = json.dumps({"data": DATA_UP_B64, "freq": 868.3, "datr": "SF7BW125"})
    for cid, (ctype, topic, value) in {
        41: ("chirpstack_collector", "gateway/aabb/rx", chirp),
        42: ("ttn_v3_collector", "", ttn3),
        43: ("generic_mqtt_collector", "lora/dev-1/up", mqtt),
    }.items():
        d = tmp_path / f"feed_{cid}"
        d.mkdir()
        with open(d / f"collector_{cid}.jsonl", "w") as fh:
            for i in range(6):
                fh.write(json.dumps(
                    {"topic": topic, "value": value, "ts": 1700000000 + i}) + "\n")
        feeds[cid] = (ctype, str(d))

    mgr = CollectorManager(spark, str(out))
    for cid, (ctype, path) in feeds.items():
        mgr.handle_event({"type": "CREATED", "config": CollectorConfig(
            id=cid, type=ctype, source_format="lorawan_replay",
            source_options={"path": path, "batchSize": "3"})})
    assert len(mgr.queries) == 3
    mgr.process_all()
    # UPDATED: rebuild collector 42 in place (stop -> new query)
    mgr.handle_event({"type": "UPDATED", "config": CollectorConfig(
        id=42, type="ttn_v3_collector", source_format="lorawan_replay",
        source_options={"path": feeds[42][1], "batchSize": "3"})})
    assert len(mgr.queries) == 3
    mgr.process_all()
    mgr.stop_all()
    for cid in feeds:
        with open(out / f"queue_{cid}.jsonl") as fh:
            lines = [json.loads(line) for line in fh]
        assert len(lines) == 6, f"collector {cid}: {len(lines)} envelopes"
        assert lines[0]["packet"]["dev_addr"] == "017fc1c4"
    # status history: three CONNECTED, 42's DISCONNECTED+CONNECTED from
    # the update, three DISCONNECTED from stop_all — change-only per id
    evs = [(e.data_collector_id, e.status) for e in mgr.status_events]
    assert evs.count((42, "CONNECTED")) == 2 and evs.count((42, "DISCONNECTED")) == 2


def test_location_attach_and_reset(spark, tmp_path):
    up = json.dumps(
        {"payload": DATA_UP_B64, "snr": 8.0, "rssi": -50.0,
         "timestamp": "2024-01-05T10:00:00Z", "rfch": 0, "frequency": 867.5,
         "coding_rate": "4/5", "dev_eui": "B827EB891CF50003"}
    )
    status = json.dumps(
        {"status": {"location": {"latitude": 44.5, "longitude": 11.3, "altitude": 80.0}}}
    )
    records = [
        ("eui-a1b2", f'gateway uplink "{up}"'),     # 0: no location yet
        ("eui-a1b2", f"gateway status {status}"),    # 1: captured, consumed
        ("eui-a1b2", f'gateway uplink "{up}"'),     # 2: gets the location
        ("eui-a1b2", f'gateway uplink "{up}"'),     # 3: reset -> none
    ]
    raw = _stream_feed(spark, tmp_path, "feed_loc", records)
    rows = _drain_to(
        spark, attach_location_by_gateway(normalize_ttn_v2(raw)), "enr_loc"
    )
    by_seq = {r["_seq"]: r for r in rows}
    assert set(by_seq) == {0, 2, 3}  # status row consumed, not emitted
    assert by_seq[0]["latitude"] is None
    assert by_seq[2]["latitude"] == 44.5 and by_seq[2]["longitude"] == 11.3
    assert by_seq[3]["latitude"] is None  # attach-then-reset
    assert all(r["gateway"] == "a1b2" for r in rows)


# --- state width ------------------------------------------------------------


def _state_instances(q) -> set[int]:
    return {
        op.numStateStoreInstances
        for p in q.recentProgress
        for op in p.stateOperators
    }


@pytest.mark.parametrize("stage", ["enrich_per_collector", "attach_location_by_gateway"])
def test_enrichment_state_is_one_partition_wide(spark, tmp_path, stage):
    """Under the session's streaming width each per-collector enrichment
    keeps its state in one state-store partition, not one per core."""
    if stage == "enrich_per_collector":
        raw = _stream_feed(spark, tmp_path, "feed_w1",
                           [("gateway/aabb/rx", _GW_MSG)] * 3)
        df = enrich_per_collector(normalize_chirpstack(raw))
    else:
        status = json.dumps({"status": {"location": {"latitude": 1.0}}})
        raw = _stream_feed(spark, tmp_path, "feed_w1",
                           [("eui-a1b2", f"gateway status {status}")] * 3)
        df = attach_location_by_gateway(normalize_ttn_v2(raw))
    q = df.writeStream.format("noop").start()
    try:
        q.processAllAvailable()
        assert q.exception() is None
        assert _state_instances(q) == {1}
    finally:
        q.stop()


def test_wider_state_checkpoint_keeps_its_width_and_state(spark, tmp_path):
    """A checkpoint created at state width 4 restarts at width 4 under
    the one-partition default, and a dev_addr learned in epoch 0 still
    enriches a packet in epoch 1."""
    register_sources(spark)
    d = tmp_path / "feed_restart"
    d.mkdir()
    feed = d / "collector_1.jsonl"

    def append(records):
        with open(feed, "a") as fh:
            for topic, value in records:
                fh.write(json.dumps({"topic": topic, "value": value,
                                     "ts": 1700000000}) + "\n")

    got: dict[int, list[dict]] = {}

    def keep(df, epoch_id):
        # sorted here: a Spark sort would run the state operator twice
        # (range sampling), doubling its reported instances
        got[epoch_id] = sorted((r.asDict() for r in df.collect()),
                               key=lambda r: r["_seq"])

    def run():
        raw = (spark.readStream.format("lorawan_replay")
               .option("path", str(d))
               .option("cursorPath", str(tmp_path / "cursor.json"))
               .load())
        q = (enrich_per_collector(normalize_chirpstack(raw))
             .writeStream.foreachBatch(keep)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .start())
        try:
            q.processAllAvailable()
            assert q.exception() is None
            return _state_instances(q)
        finally:
            q.stop()

    append([("gateway/aabb/rx", _GW_MSG),                              # buffered
            ("application/1/device/b827eb891cf50003/rx", _APP_MATCH)])  # learns it
    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        assert run() == {4}
    finally:
        spark.conf.set(key, default)
    assert [(r["_seq"], r["merged"]) for r in got[0]] == [(0, True)]

    append([("gateway/aabb/rx", _GW_MSG)])  # known dev_addr -> enriched
    assert run() == {4}
    assert sorted(got) == [0, 1]
    (row,) = got[1]
    assert row["_seq"] == 2 and row["merged"] is False
    assert row["dev_eui"] == "b827eb891cf50003" and row["app_name"] == "app-x"
