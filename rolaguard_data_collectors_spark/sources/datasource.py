"""PySpark 4 Python DataSources for the collector transports.

Two sources (SURVEY.md §2A ops 1-4, §4 "custom work" table):

``lorawan_replay`` — partitioned, offset-tracked streaming reader over
JSONL capture files, one file per collector. Offsets are per-file line
indices (the Kafka-offset analog), so micro-batches are replayable and
exactly-once end-to-end with a transactional sink. One input partition
per collector file mirrors the reference's one-connection-per-collector
parallelism (Orchestrator.py:246-306) and scales horizontally: a
1000-collector deployment is 1000 independent partitions.

``lorawan_live`` — driver-prefetch reader (SimpleDataSourceStreamReader)
wrapping a non-replayable network transport (MQTT / TTN WS / TTN SSE via
transports.py). Spark's reader wrapper caches each prefetched batch in
driver memory until commit; a batch that a restart finds planned but
uncommitted cannot be re-read from the transport
(``LiveReplayUnsupportedError``), so replayable delivery needs
``lorawan_replay``.

Every emitted row carries an explicit per-collector ``seq`` so the
stateful layer can reconstruct arrival order inside unordered
micro-batch partitions (SURVEY.md §7 "what's hard" (a)).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .transports import make_transport, parse_capture_line

# The raw pre-normalization record every source emits.
RAW_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),  # per-collector arrival order
        T.StructField("ts", T.LongType()),  # arrival epoch seconds
        T.StructField("topic", T.StringType()),
        T.StructField("value", T.StringType()),  # raw message body
        T.StructField("data_collector_id", T.LongType()),
        T.StructField("organization_id", T.LongType()),
    ]
)


def _collector_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".jsonl")
        )
    return [path]


def _collector_id_of(fpath: str, option: str | None = None) -> int:
    """The ``dataCollectorId`` option when given (the control-plane
    config id ``CollectorManager`` passes), else the ``<id>`` of a
    ``*_<id>.jsonl`` capture name."""
    if option is not None:
        return int(option)
    stem = os.path.splitext(os.path.basename(fpath))[0]
    try:
        return int(stem.rsplit("_", 1)[-1])
    except ValueError:
        return abs(hash(stem)) % (1 << 31)


def _scan_lines(fpath: str, pos: int, n: int) -> tuple[int, int]:
    """Advance a (byte position, line count) scan of a capture over the
    newline-terminated, non-blank lines written past ``pos``. A last
    line whose newline has not arrived is left for a later scan, as
    ``ReplayTransport`` holds a fragment until its newline arrives. A
    file now shorter than ``pos`` was truncated or replaced: rescan it
    from the start."""
    with open(fpath, "rb") as fh:
        if os.fstat(fh.fileno()).st_size < pos:
            pos, n = 0, 0
        fh.seek(pos)
        line = b""
        for line in fh:
            if line.strip():
                n += 1
        tail = b"" if line.endswith(b"\n") else line
        return fh.tell() - len(tail), n - bool(tail.strip())


class _ReplaySlice(InputPartition):
    def __init__(self, fpath: str, start: int, end: int, collector_id: int, org_id: int):
        self.fpath = fpath
        self.start = start
        self.end = end
        self.collector_id = collector_id
        self.org_id = org_id


def _read_slice(partition: _ReplaySlice):
    """Rows of lines [start, end) of one capture. Runs on an executor:
    stream the file, skip to the slice. Lines split on ``\\n`` only and
    a blank line is one ``bytes.strip`` empties, as ``_scan_lines``
    counts them."""
    with open(partition.fpath, "rb") as fh:
        idx = 0
        for raw in fh:
            if not raw.strip():
                continue
            if idx >= partition.end:
                break
            if idx >= partition.start:
                # A torn/garbage capture line (writer crash mid-append)
                # degrades to a topic-less row while offsets stay
                # line-accurate.
                m = parse_capture_line(raw.decode("utf-8", errors="replace").strip())
                yield (
                    idx,
                    m.ts,
                    m.topic,
                    m.value,
                    partition.collector_id,
                    partition.org_id,
                )
            idx += 1


class LorawanReplayStreamReader(DataSourceStreamReader):
    """Offset = {file path: lines consumed}. By default latestOffset
    announces every complete (newline-terminated) line each file
    holds, so one trigger reads the whole backlog and a
    ``Trigger.AvailableNow`` run drains it (Spark's file and Kafka
    sources likewise put no cap on a trigger unless
    ``maxFilesPerTrigger`` or ``maxOffsetsPerTrigger`` is set).

    ``batchSize`` is the opt-in rate limit: each trigger advances each
    file by at most that many lines. It caps EVERY trigger,
    ``Trigger.AvailableNow`` included: PySpark 4.1's Python stream
    reader has no admission control, so an availableNow run takes one
    ``latestOffset()`` as its end and stops after that one batch. A
    caller that sets ``batchSize`` and must drain a larger backlog
    restarts the query on its checkpoint (with ``cursorPath``, each
    restart resumes where the last one announced).

    Uncapped, a collector's whole backlog is one micro-batch, and the
    stateful enrich stage (``enrich_per_collector``) holds a
    collector's rows of a batch in one Python worker, so that worker's
    memory grows with the backlog (about 1.3 KB per line). A large
    backlog that goes through stateful enrichment should set
    ``batchSize``."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("lorawan_replay requires option 'path'")
        self.batch_size = int(options.get("batchSize", 1 << 62))
        self.org_id = int(options.get("organizationId", 0))
        self.collector_id = options.get("dataCollectorId")
        self.files = _collector_files(self.path)
        # Rate-limit cursor. latestOffset() gets no start offset from
        # Spark, so a restarted reader would otherwise begin at 0 and
        # hand the engine an offset BEHIND the checkpoint — Spark logs
        # it and replays already-committed records. With the
        # ``cursorPath`` option the cursor is persisted on every
        # announce (see latestOffset — Spark's commit() callback only
        # fires on offset-log purges, ~100 batches in) (this sidecar is
        # to the replay source what the consumer-group offset is to
        # Kafka) and additionally floored at whatever start offset
        # Spark passes to partitions(). Queries that never restart
        # (tests, one-shot backfills) can omit it.
        self._cursor_path = options.get("cursorPath")
        self._last = {f: 0 for f in self.files}
        # (byte position, complete lines) per file: each latestOffset()
        # reads only what was appended since the last one.
        self._scan = {f: (0, 0) for f in self.files}
        if self._cursor_path and os.path.exists(self._cursor_path):
            # A torn cursor write (crash mid-dump) must not brick the
            # restart: treat it as absent. Worst case the reader
            # re-announces committed offsets, which Spark logs and the
            # exactly-once sink dedupes — at-least-once degraded, never
            # stuck (round-8 fuzz).
            try:
                with open(self._cursor_path, encoding="utf-8") as fh:
                    self._floor(json.load(fh))
            except (ValueError, OSError, TypeError, AttributeError):
                # TypeError/AttributeError: cursor JSON parsed but isn't
                # a str->int dict (null values, a bare list) — any
                # unusable cursor is treated as absent, same degraded
                # at-least-once restart as a torn write (round-9 fix:
                # the (ValueError, OSError) guard still bricked on
                # {"path": null}).
                pass

    def _floor(self, offset: dict) -> None:
        for f in self.files:
            try:
                v = int(offset.get(f, 0))
            except (TypeError, ValueError):
                # A null/list/garbage per-file value in a parsed cursor
                # must degrade to "no floor", not kill the restart.
                v = 0
            self._last[f] = max(self._last[f], v)

    def initialOffset(self) -> dict:
        return {f: 0 for f in self.files}

    def latestOffset(self) -> dict:
        # Called on the driver once per micro-batch: advance each
        # collector by at most batch_size complete lines, never
        # backward. The scan resumes where the last call stopped, so
        # lines appended while the query runs are read, and an idle
        # trigger reads no capture bytes.
        nxt = {}
        for f in self.files:
            self._scan[f] = _scan_lines(f, *self._scan[f])
            last = self._last.get(f, 0)
            nxt[f] = max(last, min(self._scan[f][1], last + self.batch_size))
        self._last = nxt
        # Persist the cursor at ANNOUNCE time, not just in commit():
        # MicroBatchExecution only calls source.commit() when it purges
        # old offset-log entries (minBatchesToRetain, default 100), so
        # a short-lived stream would otherwise never write the sidecar
        # and a restarted reader re-announces from 0 (round-8 probe).
        # Announced-but-uncommitted offsets are safe to persist: the
        # cursor is a rate-limit resume hint, and replay correctness is
        # governed by Spark's own checkpoint via partitions(start, ...)
        # flooring either way.
        self._save_cursor()
        return nxt

    def _save_cursor(self) -> None:
        if not self._cursor_path:
            return
        tmp = self._cursor_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self._last, fh)
        os.replace(tmp, self._cursor_path)  # no torn reads for restarts

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        self._floor(start)
        parts = []
        for f in self.files:
            s, e = start.get(f, 0), end.get(f, 0)
            if e > s:
                parts.append(
                    _ReplaySlice(
                        f, s, e, _collector_id_of(f, self.collector_id), self.org_id
                    )
                )
        # An empty micro-batch still needs >=1 partition in some Spark
        # versions; returning [] is accepted by 4.x.
        return parts

    def read(self, partition: _ReplaySlice):
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        # Confirmed positions (Spark calls this only when the offset
        # log purges past a batch); the announce-time save above is
        # what restarts actually read on short-lived streams.
        self._floor(end)
        self._save_cursor()

    def stop(self) -> None:
        pass


class LorawanReplayDataSource(DataSource):
    """spark.readStream.format("lorawan_replay").option("path", dir)

    Rows carry the ``dataCollectorId`` option as their collector id
    when it is set, else the ``<id>`` of their ``*_<id>.jsonl`` file."""

    @classmethod
    def name(cls) -> str:
        return "lorawan_replay"

    def schema(self):
        return RAW_MESSAGE_SCHEMA

    def streamReader(self, schema):
        return LorawanReplayStreamReader(self.options)

    def reader(self, schema):
        # Batch mode: read every file fully (useful for backfill).
        from pyspark.sql.datasource import DataSourceReader

        options = self.options

        class _BatchReader(DataSourceReader):
            def partitions(self):
                return [
                    _ReplaySlice(
                        f,
                        0,
                        1 << 62,
                        _collector_id_of(f, options.get("dataCollectorId")),
                        int(options.get("organizationId", 0)),
                    )
                    for f in _collector_files(options["path"])
                ]

            def read(self, partition):
                return _read_slice(partition)

        return _BatchReader()


class LiveReplayUnsupportedError(RuntimeError):
    """A live transport was asked to re-read a non-empty offset range."""


class LorawanLiveStreamReader(SimpleDataSourceStreamReader):
    """Driver-side prefetch over a live transport. The offset is a
    monotonically increasing sequence number; Spark's wrapper serves
    each planned batch from its in-memory prefetch cache, and only
    falls back to ``readBetweenOffsets`` for a batch it holds no rows
    for (see there)."""

    def __init__(self, options: dict):
        self.kind = options.get("transport", "fake")
        self.options = dict(options)
        self.batch_size = int(options.get("batchSize", 10_000))
        self.collector_id = int(options.get("dataCollectorId", 0))
        self.org_id = int(options.get("organizationId", 0))
        self.transport = make_transport(self.kind, self.options)
        self._connected = False

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        if not self._connected:
            self.transport.connect()
            self._connected = True
        seq = int(start.get("seq", 0))
        msgs = self.transport.poll(self.batch_size)
        rows = [
            (seq + i, m.ts, m.topic, m.value, self.collector_id, self.org_id)
            for i, m in enumerate(msgs)
        ]
        return iter(rows), {"seq": seq + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Spark re-reads a batch it has no prefetched rows for: an empty
        # batch (an idle first poll plans batch 0 as seq 0 -> 0, which
        # the wrapper never caches), or a batch replayed after restart.
        # The first is empty by definition; the second would need the
        # transport to replay, which a live feed cannot.
        if int(start.get("seq", 0)) == int(end.get("seq", 0)):
            return iter(())
        raise LiveReplayUnsupportedError(
            f"lorawan_live cannot re-read messages {start} -> {end}: the "
            f"{self.kind!r} transport does not replay; use lorawan_replay "
            "for a replayable source"
        )

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        if self._connected:
            self.transport.close()
            self._connected = False


class LorawanLiveDataSource(DataSource):
    """spark.readStream.format("lorawan_live")
    .option("transport", "mqtt|ttn_ws|ttn_v3_sse|fake|replay")"""

    @classmethod
    def name(cls) -> str:
        return "lorawan_live"

    def schema(self):
        return RAW_MESSAGE_SCHEMA

    def simpleStreamReader(self, schema):
        return LorawanLiveStreamReader(self.options)


def register_sources(spark) -> None:
    """Register both sources on a session (idempotent)."""
    # The streaming-source PLANNER is a driver-side Python worker that
    # does NOT honor addPyFile includes (unlike task workers), so the
    # DataSource classes must unpickle self-contained: register this
    # module and the transports it references for by-value pickling.
    import sys

    from pyspark import cloudpickle

    from ..bootstrap import ensure_executor_pythonpath
    from . import transports

    ensure_executor_pythonpath(spark)  # task workers (codec UDFs etc.)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(transports)
    spark.dataSource.register(LorawanReplayDataSource)
    spark.dataSource.register(LorawanLiveDataSource)
