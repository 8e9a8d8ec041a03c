"""Exhaustive truncation fuzz over the QueueFileSink epoch commit-log
parser (the snapshot-table sinks record epochs in their manifests and
keep no log): for EVERY byte-truncation point of a valid log —
the complete space of single-crash torn states — the parse must yield
a SUBSET of the true records with exactly their true values. Losing a
commit is safe (the epoch replays idempotently); inventing one, or
recovering one with a wrong offset, is the data-loss class
the round-9 terminator work closed. Mixed legacy+new queue logs are
fuzzed the same way."""

from __future__ import annotations

from rolaguard_data_collectors_spark.commitlog import append_commit_line
from rolaguard_data_collectors_spark.streaming.sink import QueueFileSink


def _truncations(path, blob: bytes):
    for k in range(len(blob) + 1):
        with open(path, "wb") as fh:
            fh.write(blob[:k])
        yield k


def test_queue_sink_commit_parse_never_invents(tmp_path):
    out = str(tmp_path / "q.jsonl")
    sink = QueueFileSink(out)
    truth = {0: 120, 1: 121, 2: 4096, 3: 70000}
    for e, off in truth.items():
        append_commit_line(sink.commit_path, f"{e},{off},end")
    blob = open(sink.commit_path, "rb").read()
    for k in _truncations(sink.commit_path, blob):
        got = sink._commits()
        assert set(got.items()) <= set(truth.items()), (k, got)


def test_queue_sink_mixed_legacy_log_parse_never_invents(tmp_path):
    out = str(tmp_path / "q.jsonl")
    sink = QueueFileSink(out)
    truth = {0: 11, 1: 2221, 2: 33333, 3: 44, 4: 555555}
    with open(sink.commit_path, "w", encoding="utf-8") as fh:
        fh.write("0,11\n1,2221\n2,33333\n")  # pre-upgrade records
    append_commit_line(sink.commit_path, "3,44,end")
    append_commit_line(sink.commit_path, "4,555555,end")
    blob = open(sink.commit_path, "rb").read()
    for k in _truncations(sink.commit_path, blob):
        got = sink._commits()
        # Legacy records are only accepted newline-complete, so a torn
        # legacy tail ('1,22' of '1,2221') must vanish, not mis-parse.
        assert set(got.items()) <= set(truth.items()), (k, got)
