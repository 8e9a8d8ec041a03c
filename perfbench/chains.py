"""Collector chains composed from the package's public functions.

A chain is source -> ``PIPELINES[type]`` -> (optional enrichment) ->
``to_envelope_json`` -> sink. The benchmark composes it here, not
through ``CollectorManager``, so a later change to how the manager
wires collectors changes the program measured, not the workload.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.schemas import PACKET_SCHEMA
from rolaguard_data_collectors_spark.streaming import (
    QueueFileSink,
    attach_location_by_gateway,
    enrich_per_collector,
    to_envelope_json,
)
from rolaguard_data_collectors_spark.streaming.orchestrator import PIPELINES

from gen import Collector

TRIGGER = "1 second"  # the production envelope-sink trigger
ENRICH = {
    "chirpstack_collector": enrich_per_collector,
    "ttn_collector": attach_location_by_gateway,
}


def replay_source(spark: SparkSession, path: str, cursor: str) -> DataFrame:
    """``cursor`` persists the reader's position, so a restarted query
    resumes where its checkpoint ends (as ``CollectorManager`` wires it)."""
    return (
        spark.readStream.format("lorawan_replay")
        .option("path", path)
        .option("cursorPath", cursor)
        .load()
    )


def live_source(spark: SparkSession, coll: Collector, path: str) -> DataFrame:
    return (
        spark.readStream.format("lorawan_live")
        .option("transport", "replay")
        .option("path", path)
        .option("dataCollectorId", str(coll.cid))
        .load()
    )


def batch_source(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format("lorawan_replay").option("path", path).load()


def as_packets(df: DataFrame, coll: Collector) -> DataFrame:
    """Enrichment emits only the columns it touches; give the envelope
    serializer the full packet schema, with typed nulls for the rest."""
    present = set(df.columns)
    cols = []
    for f in PACKET_SCHEMA.fields:
        if f.name in present:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif f.name == "data_collector_id":
            cols.append(F.lit(coll.cid).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def packets(raw: DataFrame, coll: Collector, enrich: bool) -> DataFrame:
    out = PIPELINES[coll.type](raw)
    if enrich and coll.type in ENRICH:
        out = as_packets(ENRICH[coll.type](out), coll)
    return out


def envelopes(raw: DataFrame, coll: Collector, enrich: bool) -> DataFrame:
    return to_envelope_json(packets(raw, coll, enrich))


class Call(NamedTuple):
    key: int  # collector id
    epoch: int
    start: float  # perf_counter when the sink call began
    end: float  # ... and when it returned: the epoch's commit
    size: int  # queue file bytes after the call


class SinkClock:
    """Wraps the public ``QueueFileSink`` callable and records a ``Call``
    per epoch. The return is the commit: the envelopes are appended,
    fsynced and the commit record written."""

    def __init__(self, sink: QueueFileSink, key: int, log: list, lock: threading.Lock):
        self.sink = sink
        self.key = key
        self.log = log
        self.lock = lock

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.perf_counter()
        self.sink(batch_df, epoch_id)
        t1 = time.perf_counter()
        size = os.path.getsize(self.sink.out_path)
        with self.lock:
            self.log.append(Call(self.key, epoch_id, t0, t1, size))


def start_query(frame: DataFrame, name: str, ckpt: str, *, sink=None,
                available_now: bool = False):
    """Start one streaming query: to ``sink`` (a foreachBatch callable)
    or, without one, to the ``noop`` format."""
    w = frame.writeStream.queryName(name).option("checkpointLocation", ckpt)
    w = w.outputMode("append")
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=TRIGGER)
    w = w.foreachBatch(sink) if sink is not None else w.format("noop")
    return w.start()


def queue_sink(out_dir: str, coll: Collector) -> QueueFileSink:
    return QueueFileSink(os.path.join(out_dir, f"queue_{coll.cid}.jsonl"))


def epoch_ends(ckpt: str) -> dict[int, int]:
    """Epoch -> the source's end offset, read from the query's offset
    log: epoch e consumed messages [end(e-1), end(e)). A query reads
    one capture, so its offset has one entry: ``seq`` for
    ``lorawan_live``, the file's line count for ``lorawan_replay``."""
    out = {}
    d = os.path.join(ckpt, "offsets")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if not name.isdigit():
            continue
        with open(os.path.join(d, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        out[int(name)] = sum(int(v) for v in json.loads(lines[-1]).values())
    return out


def committed_epochs(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}
