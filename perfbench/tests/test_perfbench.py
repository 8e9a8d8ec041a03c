"""Tests of the benchmark's own parts: input determinism, the output
checker, and the metric names it prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# --- generator -----------------------------------------------------------


def test_same_seed_gives_byte_identical_captures(tmp_path):
    for coll in gen.COLLECTORS:
        a = gen.collector_lines(7, coll, 500, 50, 100.0)
        b = gen.collector_lines(7, coll, 500, 50, 100.0)
        gen.write_capture(str(tmp_path / "a.jsonl"), a)
        gen.write_capture(str(tmp_path / "b.jsonl"), b)
        assert (tmp_path / "a.jsonl").read_bytes() == (tmp_path / "b.jsonl").read_bytes()
        assert len(a) == 500


def test_other_seed_gives_other_captures():
    coll = gen.COLLECTORS[1]
    assert gen.collector_lines(1, coll, 200, 50, 100.0) != gen.collector_lines(2, coll, 200, 50, 100.0)


def test_captures_vary_what_the_engine_depends_on():
    lines = [json.loads(x) for x in gen.collector_lines(3, gen.COLLECTORS[1], 3000, 200, 100.0)]
    topics = [r["topic"] for r in lines]
    assert any(t.endswith("/join") for t in topics)  # devices_map writes
    assert any("/device/" in t and t.endswith("/rx") for t in topics)  # app merges
    assert any(t.startswith("unrouted/") for t in topics)  # off-route
    bodies = [r["value"] for r in lines if r["topic"].startswith("gateway/")]
    payloads = [json.loads(b)["phyPayload"] for b in bodies if b.endswith("}")]
    # k-gateway duplicates repeat a frame; random FRMPayload/MIC make
    # distinct uplinks distinct
    assert len(set(payloads)) < len(payloads)
    assert len(set(payloads)) > len(payloads) // 3
    assert any(not b.endswith("}") for b in bodies)  # malformed bodies


def test_pacer_appends_whole_lines_on_schedule(tmp_path):
    lines = {1: [f'{{"i": {i}}}' for i in range(30)], 2: [f'{{"j": {i}}}' for i in range(30)]}
    files = {c: str(tmp_path / f"c_{c}.jsonl") for c in lines}
    pacer = gen.Pacer(files, lines, rate=200.0)
    pacer.preroll(1, 5)
    t0 = time.perf_counter()
    pacer.start(t0)
    pacer.join(timeout=10.0)
    for c in lines:
        with open(files[c], encoding="utf-8") as fh:
            assert fh.read() == "".join(x + "\n" for x in lines[c])
        assert len(pacer.due[c]) == 30
    # collector 2 starts at t0: message seq is due at t0 + phase + seq / rate
    assert all(abs(t - (t0 + 1 / 400 + s / 200.0)) < 1e-9 for s, t in enumerate(pacer.due[2]))
    assert all(b >= a for a, b in zip(pacer.due[1], pacer.due[1][1:]))


def test_pacer_keeps_every_line_inside_one_page(tmp_path):
    lines = {1: gen.collector_lines(5, gen.COLLECTORS[1], 400, 50, 100.0)}
    files = {1: str(tmp_path / "c_1.jsonl")}
    pacer = gen.Pacer(files, lines, rate=4000.0)
    pacer.preroll(1, 30)
    pacer.start(time.perf_counter())
    pacer.join(timeout=10.0)
    data = (tmp_path / "c_1.jsonl").read_bytes()
    pos = 0
    for raw in data.splitlines(keepends=True):
        # a message line never crosses a page boundary
        assert not raw.strip() or pos // gen.PAGE == (pos + len(raw) - 1) // gen.PAGE
        pos += len(raw)
    assert len(data) > 4 * gen.PAGE
    # the page-filling lines are blank, and the messages are unchanged
    assert [x for x in data.decode().splitlines() if x.strip()] == lines[1]


# --- checker -------------------------------------------------------------

_ENV = [
    '{"packet":{"dev_addr":"0a0b0c0d","f_count":%d},"messages":[{"topic":"t","message":"m"}],"ts":%d}'
    % (i, 1760000000 + i)
    for i in range(5)
]


def test_checker_ignores_only_the_wall_clock_ts():
    later = [x.replace('"ts":17600000', '"ts":17700000') for x in _ENV]
    assert check.compare(later, _ENV) == (0, 0)


def test_checker_flags_a_dropped_envelope():
    assert check.compare(_ENV[:-1], _ENV) == (1, 0)


def test_checker_flags_an_altered_envelope():
    got = list(_ENV)
    got[2] = got[2].replace('"f_count":2', '"f_count":9')
    assert check.compare(got, _ENV) == (1, 1)


def test_checker_flags_a_duplicated_envelope():
    assert check.compare(_ENV + [_ENV[0]], _ENV) == (0, 1)


# --- metric names ----------------------------------------------------------


def test_end_to_end_names_match_benchmark_json():
    import workloads

    names = {m["name"] for m in _bench()["end_to_end"]}
    produced = set(workloads.e2e_metrics(workloads.Delivery(latencies_s=[0.1, 0.2, 0.3]), 3, 0.0))
    assert produced | {"setup_s"} == names


def test_per_layer_names_match_benchmark_json():
    import layers

    names = {m["name"] for m in _bench()["per_layer"]}
    assert set(layers.METRICS) == names
    progress = [{"name": "paced_2", "numInputRows": 10,
                 "durationMs": {"triggerExecution": 5, "addBatch": 3},
                 "stateOperators": [{"numRowsTotal": 1, "memoryUsedBytes": 9, "commitTimeMs": 2}]}]
    produced = set(layers.engine_metrics(progress)) | set(layers.state_metrics(progress))
    assert produced <= names


def _event(name, batch, ts, rows, trigger):
    return {"name": name, "runId": "r", "batchId": batch, "timestamp": ts,
            "numInputRows": rows, "durationMs": {"triggerExecution": trigger, "addBatch": 1}}


def test_engine_metrics_leave_out_batches_begun_in_setup():
    import layers

    log = layers.ProgressLog()
    log.events = [
        _event("paced_2", 0, "2026-01-01T00:00:00.000Z", 20, 9000),  # cold, in setup
        _event("paced_2", 1, "2026-01-01T00:00:02.000Z", 100, 400),
        _event("paced_2", 2, "2026-01-01T00:00:03.000Z", 0, 5),  # empty trigger
        _event("paced_3", 1, "2026-01-01T00:00:02.500Z", 100, 600),
        _event("reference_2", 0, "2026-01-01T00:00:04.000Z", 100, 50),
    ]
    setup_end = layers._unix("2026-01-01T00:00:01.000Z")
    prog = log.progress("paced_", since=setup_end)
    assert [(p["name"], p["batchId"]) for p in prog] == [("paced_2", 1), ("paced_3", 1)]
    out = layers.engine_metrics(prog)
    assert out["engine.trigger_ms"] == 500.0 and out["engine.batches"] == 2
    assert len(log.progress("paced_")) == 3


def test_progress_log_settles_on_termination_events():
    import threading
    from types import SimpleNamespace

    import layers

    log = layers.ProgressLog()
    log.onQueryStarted(SimpleNamespace(runId="a"))
    log.onQueryStarted(SimpleNamespace(runId="b"))
    log.onQueryTerminated(SimpleNamespace(runId="a"))
    log.settle(["a"], timeout=1.0)
    late = threading.Timer(0.2, log.onQueryTerminated, [SimpleNamespace(runId="b")])
    late.start()
    log.settle(timeout=5.0)  # waits for b's event
    late.join()
    log.onQueryStarted(SimpleNamespace(runId="c"))
    try:
        log.settle(timeout=0.1)
    except RuntimeError:
        pass
    else:
        raise AssertionError("settle returned without c's termination")


def test_result_line_prints_every_metric_with_its_unit():
    import run

    for kind in ("end_to_end", "per_layer"):
        units = run.metric_units(kind)
        line = run.result_line(True, 10, 0, dict.fromkeys(units, 1.5), kind)
        out = json.loads(line)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["metrics"] == {m: {"value": 1.5, "unit": u} for m, u in units.items()}


def test_bench_json_matches_its_contract():
    spec = _bench()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == {"drain", "paced"}
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
