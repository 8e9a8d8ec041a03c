"""Per-layer measurement for ``--trace 1``, all from outside the package.

- ``ProgressLog``: a benchmark-owned ``StreamingQueryListener`` that
  keeps every ``StreamingQueryProgress`` (``durationMs`` phases, input
  rows, ``stateOperators``, observed metrics).
- The sink wrapper (``chains.SinkClock``) times each call of the
  public ``QueueFileSink``.
- Ablation legs (see ``chains``): the same captures drained by legs A
  (source), B (+ normalize), C (+ envelope), D (+ ``QueueFileSink``)
  and E (B + enrichment); a layer's cost is the difference of two legs'
  busy time (the sum of their batches' ``addBatch``).
- The batch twin: the drain chain as one batch job.
- The serial baseline: leg D with the four queries run one after
  another, each a single-partition batch, so one task runs at a time
  (the single-threaded run of the same job), against the four at once.

Legs read the first LEG_LINES lines of each capture, one availableNow
batch per collector, four queries at once. A leg difference smaller
than the legs' run-to-run noise (about 0.5 s of busy time per leg on
a 4-core host) can read negative; it is reported as measured.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import chains
from gen import COLLECTORS
from workloads import batch_twin

PHASES = {
    "latest_offset_ms": "latestOffset",
    "planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}
LEG_LINES = 1000  # per collector: one batch of every leg query
WARM_LINES = 200

# Every per-layer metric a traced run prints.
METRICS = (
    *(f"engine.{p}" for p in PHASES),
    "engine.batches", "engine.rows_per_batch", "engine.overhead_share",
    "engine.batch_msgs_per_s", "engine.stream_efficiency",
    "sources.read_ms_per_kmsg", "sources.backlog_end_msgs",
    "normalize.ms_per_kmsg", "normalize.dropped", "normalize.decode_errors",
    "enrich.ms_per_kmsg", "enrich.state_rows", "enrich.state_bytes",
    "enrich.state_commit_ms", "enrich.merged", "enrich.buffered",
    "sink.envelope_ms_per_kmsg", "sink.publish_ms_per_kmsg", "sink.call_ms",
    "sink.bytes_per_msg",
    "scale.serial_msgs_per_s", "scale.speedup",
    "setup.session_s", "setup.first_batch_s", "proc.peak_rss_mb", "host.steal_pct",
)


class ProgressLog(StreamingQueryListener):
    """Keeps the progress of every streaming query of the session.

    Spark delivers listener events asynchronously, so a query's last
    progress can arrive after ``awaitTermination`` returns. The bus
    keeps each query's events in order, so once its termination event
    has arrived, so has all its progress: ``settle`` waits for that."""

    def __init__(self):
        self.events: list[dict] = []
        self._started: set[str] = set()
        self._ended: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        with self._cond:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cond:
            self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._ended.add(str(event.runId))
            self._cond.notify_all()

    def settle(self, run_ids=None, timeout: float = 30.0) -> None:
        """Wait until the termination of each query run in ``run_ids``
        (default: every run started so far) has been delivered."""
        with self._cond:
            want = set(map(str, run_ids)) if run_ids is not None else set(self._started)
            if not self._cond.wait_for(lambda: want <= self._ended, timeout):
                raise RuntimeError(f"no termination event for {sorted(want - self._ended)}")

    def progress(self, prefix: str, since: float | None = None) -> list[dict]:
        """Progress of the batches that read input, for queries named
        ``prefix...``; with ``since`` (a Unix time), only batches whose
        trigger began at or after it."""
        with self._cond:
            return [p for p in self.events
                    if (p.get("name") or "").startswith(prefix)
                    and p.get("numInputRows", 0) > 0
                    and (since is None or _unix(p["timestamp"]) >= since)]


def _unix(stamp: str) -> float:
    """A progress ``timestamp`` (ISO 8601, UTC) as a Unix time."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def engine_metrics(progress: list[dict]) -> dict:
    """Mean per batch of each trigger phase, batch and row counts, and
    the share of trigger time spent outside ``addBatch``. Phases come in
    whole milliseconds, so a mean, not a median, resolves the short
    ones."""
    out: dict[str, float] = {}
    for name, key in PHASES.items():
        vals = [p["durationMs"].get(key, 0) for p in progress]
        out[f"engine.{name}"] = statistics.fmean(vals) if vals else 0.0
    rows = [p.get("numInputRows", 0) for p in progress]
    out["engine.batches"] = len(progress)
    out["engine.rows_per_batch"] = statistics.median(rows) if rows else 0.0
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    add = sum(p["durationMs"].get("addBatch", 0) for p in progress)
    out["engine.overhead_share"] = (trig - add) / trig if trig else 0.0
    return out


def state_metrics(progress: list[dict]) -> dict:
    """State size at the last batch of each stateful query, and the mean
    per batch of the state stores' commit time."""
    latest: dict[str, list] = {}
    commit = []
    for p in progress:
        ops = p.get("stateOperators") or []
        if ops:
            latest[p.get("name") or p.get("id")] = ops
            commit.append(sum(op.get("commitTimeMs", 0) for op in ops))
    ops = [op for v in latest.values() for op in v]
    return {
        "enrich.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "enrich.state_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
        "enrich.state_commit_ms": statistics.fmean(commit) if commit else 0.0,
    }


def _observed(progress: list[dict], name: str, field: str) -> int:
    return sum(int((p.get("observedMetrics") or {}).get(name, {}).get(field) or 0)
               for p in progress)


def _leg_frame(spark, coll, path: str, cursor: str, leg: str):
    """One leg's frame, observed with the same two aggregates on every
    leg (a row count and one count the layer cares about), so the
    observation's own cost cancels in the differences between legs."""
    raw = chains.replay_source(spark, path, cursor)
    if leg == "A":
        frame, second = raw, F.count("value")
    elif leg == "B":
        frame = chains.packets(raw, coll, enrich=False)
        second = F.count("error")
    elif leg == "E" and coll.type in chains.ENRICH:
        frame = chains.ENRICH[coll.type](chains.packets(raw, coll, enrich=False))
        second = (F.sum(F.col("merged").cast("long")) if "merged" in frame.columns
                  else F.count("_seq"))
    elif leg == "E":
        frame = chains.packets(raw, coll, enrich=False)
        second = F.lit(0)
    else:  # C, D: the envelope frame (D writes it to QueueFileSink)
        frame = chains.envelopes(raw, coll, enrich=False)
        second = F.count("envelope")
    frame = frame.observe(f"leg{leg}", F.count(F.lit(1)).alias("rows"), second.alias("n"))
    if leg == "D":
        return frame
    # One hash over every column: the noop write needs all of them
    # computed but writes one narrow column, so legs of different
    # widths pay the same write cost.
    return frame.select(F.hash(*[F.col(c) for c in frame.columns]).alias("h"))


def run_leg(spark, leg: str, files: dict[int, str], work: str, log: ProgressLog,
            serial: bool = False) -> list[dict]:
    """Drain every capture through one leg, one availableNow batch per
    collector: the four queries at once, or with ``serial`` one after
    another. Returns the leg's progress."""
    name = f"leg{leg}" + ("s" if serial else "")
    root = os.path.join(work, name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)

    def start(coll):
        qdir = os.path.join(root, str(coll.cid))
        frame = _leg_frame(spark, coll, files[coll.cid], qdir + ".cursor", leg)
        sink = chains.queue_sink(root, coll) if leg == "D" else None
        return chains.start_query(frame, f"{name}_{coll.cid}", qdir,
                                  sink=sink, available_now=True)

    def finish(q) -> None:
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise RuntimeError(f"leg {leg} timed out")
        if q.exception() is not None:
            raise RuntimeError(f"leg {leg} failed: {q.exception()}")

    if serial:
        queries = []
        for coll in COLLECTORS:
            queries.append(start(coll))
            finish(queries[-1])
    else:
        queries = [start(coll) for coll in COLLECTORS]
        for q in queries:
            finish(q)
    runs = {str(q.runId) for q in queries}
    log.settle(runs)
    return [p for p in log.progress(f"{name}_") if p["runId"] in runs]


def leg_captures(files: dict[int, str], work: str, n: int) -> tuple[dict[int, str], int]:
    """The first ``n`` lines of each capture, as the legs' input."""
    out, total = {}, 0
    for coll in COLLECTORS:
        d = os.path.join(work, "leg_in", str(coll.cid))
        os.makedirs(d, exist_ok=True)
        out[coll.cid] = os.path.join(d, coll.capture)
        with open(files[coll.cid], encoding="utf-8") as src, \
                open(out[coll.cid], "w", encoding="utf-8") as dst:
            i = 0
            for line in src:
                if i == n:
                    break
                if line.strip():  # the pacer's page-filling blank lines
                    dst.write(line)
                    i += 1
            total += i
    return out, total


def layer_metrics(spark, files: dict[int, str], work: str, log: ProgressLog,
                  n: int, enrich_ran: bool) -> tuple[dict, dict]:
    """Legs A-E and the batch twin over the first ``n`` lines of each
    capture. Unless the workload itself ran enrichment (``enrich_ran``),
    a small pass of leg E warms the enrichment code first, and the state
    figures come from leg E."""
    leg_in, msgs = leg_captures(files, work, n)
    if not enrich_ran:
        warm = os.path.join(work, "warm_legs")
        run_leg(spark, "E", leg_captures(files, warm, WARM_LINES)[0], warm, log)
    busy, prog, wall = {}, {}, {}
    for leg in "ABCDE":
        t = time.perf_counter()
        prog[leg] = run_leg(spark, leg, leg_in, work, log)
        wall[leg] = time.perf_counter() - t
        busy[leg] = sum(p["durationMs"].get("addBatch", 0) for p in prog[leg])
    t = time.perf_counter()
    run_leg(spark, "D", leg_in, work, log, serial=True)
    serial_s = time.perf_counter() - t
    t = time.perf_counter()
    twin = len(batch_twin(spark, leg_in, os.path.join(work, "leg_twin")))
    twin_s = time.perf_counter() - t

    def observed(leg: str, field: str, types) -> int:
        names = tuple(f"_{c.cid}" for c in COLLECTORS if c.type in types)
        return _observed([p for p in prog[leg] if p["name"].endswith(names)], f"leg{leg}", field)

    kmsg = msgs / 1000.0
    legd_rate = twin / wall["D"]
    out = {
        "sources.read_ms_per_kmsg": busy["A"] / kmsg,
        "normalize.ms_per_kmsg": (busy["B"] - busy["A"]) / kmsg,
        "sink.envelope_ms_per_kmsg": (busy["C"] - busy["B"]) / kmsg,
        "sink.publish_ms_per_kmsg": (busy["D"] - busy["C"]) / kmsg,
        "enrich.ms_per_kmsg": (busy["E"] - busy["B"]) / kmsg,
        "normalize.dropped": msgs - _observed(prog["B"], "legB", "rows"),
        "normalize.decode_errors": _observed(prog["B"], "legB", "n"),
        "enrich.merged": observed("E", "n", ("chirpstack_collector",)),
        "enrich.buffered": (observed("B", "rows", chains.ENRICH)
                            - observed("E", "rows", chains.ENRICH)),
        "engine.batch_msgs_per_s": twin / twin_s,
        "engine.stream_efficiency": legd_rate / (twin / twin_s),
        "scale.serial_msgs_per_s": twin / serial_s,
        "scale.speedup": serial_s / wall["D"],
    }
    if not enrich_ran:
        out.update(state_metrics(prog["E"]))
    return out, {"leg_msgs": msgs, "leg_busy_ms": busy, "leg_wall_s": wall,
                 "legD_serial_s": serial_s, "twin_s": twin_s, "leg_envelopes": twin}
