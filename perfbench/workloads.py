"""The two stream workloads.

``drain`` (closed loop, backlog replay): four collectors, one per
type, each its own ``lorawan_replay`` query over a seeded capture,
drained with ``trigger(availableNow=True)`` at the source's default
batchSize through normalize -> envelope -> ``QueueFileSink``. Batches
are large, so per-row read, parse/decode, serialization and publish
dominate; there is no state.

``paced`` (open loop, live traffic): a generator thread appends each
collector's messages at a fixed aggregate rate while four
``lorawan_live`` (``transport=replay``, file tail) queries run under
the production 1 s trigger. ChirpStack runs ``enrich_per_collector``
and TTN v2 ``attach_location_by_gateway`` before the sink. Batches
are small, so per-trigger engine cost, state-store work and the sink
commit dominate.

Both report, for the timed phase:

- ``msgs_per_s``: envelopes committed per second, from the end of
  setup to the last commit;
- ``latency_p50_ms`` / ``latency_p90_ms``: from each message's due
  time to the return of the sink call of the epoch that consumed it.
  On ``paced`` a message is due at its place in the schedule. On
  ``drain`` the whole backlog is due when the timed phase begins, so a
  message's latency is the time until the replay has delivered it.

The caller owns the session and the setup clock; ``on_setup_done``
marks the start of the timed phase and returns its time.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import chains
import check
from gen import COLLECTORS, Collector, Pacer, collector_lines, write_capture

# drain: messages per collector = DRAIN_MSGS_PER_S * seconds / 4, a
# fixed function of --seconds, so the same seed gives the same input.
DRAIN_MSGS_PER_S = 4000
DRAIN_DEVICES = 500
WARM_MSGS = 2000  # per collector, drained cold during setup

# paced: aggregate offered rate R over the four collectors, msgs/s.
PACED_RATE = 800
PACED_DEVICES = 4000  # per collector; ChirpStack's devices_map grows toward it
PREROLL = 20  # lines a collector holds when its query starts
QUIET = 1  # generic MQTT forwarder: traffic starts after its first trigger
CATCH_UP_S = 30.0  # after the traffic ends, wait this long for commits


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    metrics: dict = field(default_factory=dict)  # name -> value
    detail: dict = field(default_factory=dict)


@dataclass
class Delivery:
    """Per-message accounting of one run, from the sink log and each
    query's offset and commit logs."""

    latencies_s: list = field(default_factory=list)
    batches: int = 0
    uncommitted: dict = field(default_factory=dict)  # cid -> messages
    backlog_end: int = 0  # messages offered but uncommitted at t0 + seconds
    last_commit: float = 0.0


def _clean(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


_ERROR_LINE = re.compile(r"^\s*[\w.]*(Error|Exception): ")


def _error_text(q) -> str | None:
    """The first ``...Error: message`` line of a failed query's error."""
    exc = q.exception() if not q.isActive else None
    if exc is None:
        return None
    lines = str(exc).strip().splitlines()
    hit = next((ln for ln in lines if _ERROR_LINE.match(ln)), lines[0] if lines else "")
    return hit.strip()[:300]


def drain_files(spark, work: str, files: dict[int, str], totals: dict[int, int],
                enrich: bool, tag: str, log: list, timeout: float = 150.0):
    """Drain each capture with its own availableNow query into
    ``QueueFileSink``; returns (out_dir, ckpt_dir, runs, cid -> error).

    An availableNow run of ``lorawan_replay`` stops after one
    ``batchSize`` of lines (the source has no admission control for
    the trigger), so a collector whose capture is longer is restarted
    on its checkpoint until its commits cover ``totals[cid]`` lines.
    ``runs`` counts the query starts."""
    lock = threading.Lock()
    out = _clean(os.path.join(work, tag, "out"))
    ckpt = _clean(os.path.join(work, tag, "ckpt"))
    by_cid = {c.cid: c for c in COLLECTORS}
    sinks = {
        c.cid: chains.SinkClock(chains.queue_sink(out, c), c.cid, log, lock)
        for c in COLLECTORS
    }

    def start(cid: int):
        coll, qdir = by_cid[cid], os.path.join(ckpt, str(cid))
        raw = chains.replay_source(spark, files[cid], qdir + ".cursor")
        env = chains.envelopes(raw, coll, enrich)
        return chains.start_query(env, f"{tag}_{cid}", qdir, sink=sinks[cid],
                                  available_now=True)

    queries = {cid: start(cid) for cid in by_cid}
    runs = dict.fromkeys(by_cid, 1)
    errs: dict[int, str | None] = {}
    deadline = time.monotonic() + timeout
    while queries:
        for cid, q in list(queries.items()):
            if q.isActive:
                if time.monotonic() > deadline:
                    q.stop()
                    errs[cid] = "timed out"
                    del queries[cid]
                continue
            err = _error_text(q)
            if err or _committed_end(os.path.join(ckpt, str(cid))) >= totals[cid]:
                errs[cid] = err
                del queries[cid]
            else:
                queries[cid] = start(cid)
                runs[cid] += 1
        time.sleep(0.02)
    return out, ckpt, runs, errs


def queue_lines(out: str, coll: Collector) -> list[str]:
    p = os.path.join(out, f"queue_{coll.cid}.jsonl")
    return check.read_lines([p]) if os.path.exists(p) else []


def delivery(log: list, ckpt_root: str, due: dict[int, list[float]], t0: float,
             seconds: int) -> Delivery:
    """Latency of every message due at or after ``t0``, the number of
    epochs committed after ``t0``, the messages of each collector that
    no committed epoch covers, and the backlog when the timed window
    (``seconds`` from ``t0``) ends."""
    t_end = t0 + seconds
    d = Delivery()
    commit_at = {(c.key, c.epoch): c.end for c in log}
    d.last_commit = max((c.end for c in log), default=t0)
    for cid, times in due.items():
        ckpt = os.path.join(ckpt_root, str(cid))
        ends = chains.epoch_ends(ckpt)
        done = chains.committed_epochs(ckpt)
        prev = covered = by_end = 0
        for e in sorted(ends):
            if e in done and (cid, e) in commit_at:
                t1 = commit_at[(cid, e)]
                covered = ends[e]
                if t1 <= t_end:
                    by_end = ends[e]
                d.batches += t1 >= t0
                d.latencies_s.extend(
                    t1 - times[s]
                    for s in range(prev, min(ends[e], len(times)))
                    if times[s] >= t0
                )
            prev = ends[e]
        d.uncommitted[cid] = max(0, len(times) - covered)
        d.backlog_end += max(0, sum(t <= t_end for t in times) - by_end)
    return d


def commit_times(log: list, t0: float) -> dict[int, list[float]]:
    """cid -> seconds from ``t0`` to each epoch's commit, in order."""
    out: dict[int, list[float]] = {}
    for c in sorted(log, key=lambda c: c.end):
        out.setdefault(c.key, []).append(round(c.end - t0, 3))
    return out


def envelopes_after(out: str, log: list, t0: float) -> int:
    """Envelopes committed at or after ``t0``: the queue lines past the
    size each queue file had at its last commit before ``t0``."""
    n = 0
    for coll in COLLECTORS:
        path = os.path.join(out, f"queue_{coll.cid}.jsonl")
        if not os.path.exists(path):
            continue
        base = max((c.size for c in log if c.key == coll.cid and c.end < t0), default=0)
        with open(path, "rb") as fh:
            fh.seek(base)
            n += fh.read().count(b"\n")
    return n


def e2e_metrics(d: Delivery, envelopes: int, t0: float) -> dict:
    lat_ms = sorted(1000.0 * x for x in d.latencies_s)
    out = {"msgs_per_s": envelopes / max(d.last_commit - t0, 1e-9)}
    if len(lat_ms) >= 2:
        out["latency_p50_ms"] = statistics.median(lat_ms)
        out["latency_p90_ms"] = statistics.quantiles(lat_ms, n=10)[8]
    return out


# --- drain ---------------------------------------------------------------


def drain_inputs(seed: int, seconds: int, work: str) -> dict:
    n = DRAIN_MSGS_PER_S * seconds // len(COLLECTORS)
    files, warm = {}, {}
    for coll in COLLECTORS:
        lines = collector_lines(seed, coll, n + WARM_MSGS, DRAIN_DEVICES, 200.0)
        files[coll.cid] = os.path.join(_clean(os.path.join(work, "in", str(coll.cid))), coll.capture)
        warm[coll.cid] = os.path.join(_clean(os.path.join(work, "warm_in", str(coll.cid))), coll.capture)
        write_capture(warm[coll.cid], lines[:WARM_MSGS])
        write_capture(files[coll.cid], lines[WARM_MSGS:])
    return {"files": files, "warm": warm, "per_collector": n}


def drain(spark, inputs: dict, work: str, on_setup_done, seconds: int) -> Result:
    res = Result()
    # Setup: the cold first batch of every chain, on a small capture.
    n = inputs["per_collector"]
    _, _, _, warm_errs = drain_files(
        spark, work, inputs["warm"], dict.fromkeys(inputs["files"], WARM_MSGS),
        False, "warm", [])
    log: list = []
    t0 = on_setup_done()
    out, ckpt, runs, errs = drain_files(
        spark, work, inputs["files"], dict.fromkeys(inputs["files"], n),
        False, "drain", log)

    due = {c.cid: [t0] * n for c in COLLECTORS}
    d = delivery(log, ckpt, due, t0, seconds)
    got = [x for c in COLLECTORS for x in queue_lines(out, c)]
    res.metrics.update(e2e_metrics(d, envelopes_after(out, log, t0), t0))

    twin = batch_twin(spark, inputs["files"], os.path.join(work, "twin"))
    missing, extra = check.compare(got, twin)
    res.attempted = n * len(COLLECTORS)
    res.failed = min(res.attempted, max(sum(d.uncommitted.values()), missing) + extra)
    res.correct = missing == 0 and extra == 0 and not any(errs.values())
    res.detail.update(
        envelopes=len(got), twin_envelopes=len(twin), missing=missing, extra=extra,
        query_errors={c: e for c, e in {**warm_errs, **errs}.items() if e},
        latency_samples=len(d.latencies_s), batches=d.batches,
        timed_s=d.last_commit - t0, per_collector_msgs=n, query_runs=runs,
        backlog_end_msgs=d.backlog_end, queue_bytes=_bytes(out), log=log,
        commit_s=commit_times(log, t0),
    )
    return res


def batch_twin(spark, files: dict[int, str], path: str) -> list[str]:
    """The drain chain as one batch job (batch ``lorawan_replay`` read,
    same pipelines and serializer); returns its envelope lines."""
    df = None
    for coll in COLLECTORS:
        raw = chains.batch_source(spark, files[coll.cid])
        f = chains.envelopes(raw, coll, enrich=False).select("envelope")
        df = f if df is None else df.unionByName(f)
    shutil.rmtree(path, ignore_errors=True)
    df.write.text(path)
    return check.text_output(path)


# --- paced ---------------------------------------------------------------


def paced_inputs(seed: int, seconds: int, work: str) -> dict:
    per = PACED_RATE / len(COLLECTORS)
    lines, files = {}, {}
    for coll in COLLECTORS:
        n = int(per * seconds) + (0 if coll.cid == QUIET else PREROLL)
        lines[coll.cid] = collector_lines(seed, coll, n, PACED_DEVICES, per)
        files[coll.cid] = os.path.join(_clean(os.path.join(work, "in", str(coll.cid))), coll.capture)
    return {"files": files, "lines": lines, "rate": per}


def _wait(pred, timeout: float, period: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(period)
    return pred()


def paced(spark, inputs: dict, work: str, on_setup_done, seconds: int) -> Result:
    res = Result()
    lock = threading.Lock()
    log: list = []
    files = inputs["files"]
    pacer = Pacer(files, inputs["lines"], inputs["rate"])
    out = _clean(os.path.join(work, "paced", "out"))
    ckpt = _clean(os.path.join(work, "paced", "ckpt"))
    for coll in COLLECTORS:
        if coll.cid != QUIET:
            pacer.preroll(coll.cid, PREROLL)
    queries = {}
    for coll in COLLECTORS:
        raw = chains.live_source(spark, coll, files[coll.cid])
        env = chains.envelopes(raw, coll, enrich=True)
        sink = chains.SinkClock(chains.queue_sink(out, coll), coll.cid, log, lock)
        queries[coll.cid] = chains.start_query(
            env, f"paced_{coll.cid}", os.path.join(ckpt, str(coll.cid)), sink=sink)

    def first_trigger_ran(cid: int) -> bool:
        q = queries[cid]
        with lock:
            if any(c.key == cid for c in log):
                return True
        return not q.isActive or (cid == QUIET and q.lastProgress is not None)

    # Setup ends once every query has run its cold first trigger: a
    # commit for the collectors with pre-rolled traffic, the first
    # (empty) trigger for the quiet one.
    for coll in COLLECTORS:
        _wait(lambda c=coll.cid: first_trigger_ran(c), 60.0)
    t0 = on_setup_done()
    pacer.start(t0)
    pacer.join(seconds + 10.0)
    offered = {cid: len(d) for cid, d in pacer.due.items()}

    def caught_up() -> bool:
        return all(
            not q.isActive
            or _committed_end(os.path.join(ckpt, str(cid))) >= offered[cid]
            for cid, q in queries.items()
        )

    _wait(caught_up, CATCH_UP_S, 0.2)
    errs = {}
    for cid, q in queries.items():
        errs[cid] = _error_text(q)
        q.stop()

    d = delivery(log, ckpt, pacer.due, t0, seconds)
    got = {c.cid: queue_lines(out, c) for c in COLLECTORS}
    res.metrics.update(e2e_metrics(d, envelopes_after(out, log, t0), t0))

    # Exactly-once check: the paced output equals a drain of the same
    # (now complete) captures through the same chain.
    ref_out, _, _, ref_errs = drain_files(
        spark, work, files, offered, True, "reference", [])
    res.attempted = sum(offered.values())
    missing_all = extra_all = 0
    failed_by = {}
    for coll in COLLECTORS:
        cid = coll.cid
        missing, extra = check.compare(got[cid], queue_lines(ref_out, coll))
        missing_all += missing
        extra_all += extra
        failed_by[cid] = min(offered[cid], max(d.uncommitted[cid], missing) + extra)
        res.failed += failed_by[cid]
        if extra or (missing and not d.uncommitted[cid]):
            res.correct = False
    if any(ref_errs.values()):
        res.correct = False
    res.detail.update(
        rate_msgs_per_s=PACED_RATE, offered=offered, uncommitted=d.uncommitted,
        failed_by_collector=failed_by,
        latency_samples=len(d.latencies_s), batches=d.batches, missing=missing_all,
        extra=extra_all, query_errors={c: e for c, e in errs.items() if e},
        reference_errors={c: e for c, e in ref_errs.items() if e},
        generator_lag_p99_ms=(
            1000.0 * statistics.quantiles(pacer.lag_s, n=100)[98]
            if len(pacer.lag_s) >= 2 else 0.0
        ),
        timed_s=d.last_commit - t0, envelopes=sum(map(len, got.values())),
        backlog_end_msgs=d.backlog_end, queue_bytes=_bytes(out), log=log,
        commit_s=commit_times(log, t0),
    )
    return res


def _bytes(out: str) -> int:
    return sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
               if f.endswith(".jsonl"))


def _committed_end(ckpt: str) -> int:
    ends = chains.epoch_ends(ckpt)
    done = [e for e in chains.committed_epochs(ckpt) if e in ends]
    return ends[max(done)] if done else 0
