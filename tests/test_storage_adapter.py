"""The lease and version-pointer protocols on a RENAME-LESS store.

tablelock.py / snapshots.py historically leaned on POSIX O_EXCL and
atomic os.replace; storage.py narrows that dependency to four
conditional-write primitives. MemoryConditionalStore implements them
with TRUE compare-and-swap (the S3 If-Match / GCS ifGenerationMatch
contract) — these tests run the lock lifecycle, contention, stale
takeover, and the snapshot commit/recover/rollback/expire protocol
entirely against it, proving neither protocol needs atomic rename.
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from rolaguard_data_collectors_spark.snapshots import SnapshotStore
from rolaguard_data_collectors_spark.storage import (
    LocalFSStore,
    MemoryConditionalStore,
)
from rolaguard_data_collectors_spark.tablelock import LockHeldError, TableLock


@pytest.fixture(params=["local", "memory"])
def adapter(request, tmp_path):
    return LocalFSStore() if request.param == "local" else (
        MemoryConditionalStore()
    )


# --- primitive contract (both implementations) ----------------------------


def test_primitive_contract(adapter, tmp_path):
    p = str(tmp_path / "obj")
    assert adapter.read(p) is None
    assert adapter.put_if_absent(p, "a")
    assert not adapter.put_if_absent(p, "b")
    assert adapter.read(p) == "a"
    assert not adapter.replace_if_match(p, "c", expected="wrong")
    assert adapter.read(p) == "a"
    assert adapter.replace_if_match(p, "c", expected="a")
    assert adapter.read(p) == "c"
    assert not adapter.delete_if_match(p, "a")
    assert adapter.read(p) == "c"
    assert adapter.delete_if_match(p, "c")
    assert adapter.read(p) is None
    adapter.delete(p)  # idempotent
    adapter.put_atomic(p, "z")
    assert adapter.read(p) == "z"


# --- lease on the conditional store ---------------------------------------


def test_lock_lifecycle_on_memory_store(tmp_path):
    store = MemoryConditionalStore()
    root = str(tmp_path / "t")
    with TableLock(root, owner="a", adapter=store) as lk:
        assert store.read(lk.path) is not None
        with pytest.raises(LockHeldError):
            TableLock(root, owner="b", timeout=0.2, adapter=store).acquire()
        lk.refresh()
    assert store.read(os.path.join(root, TableLock.LOCK_NAME)) is None
    with TableLock(root, owner="b", timeout=0.2, adapter=store):
        pass


def test_lock_stale_takeover_on_memory_store(tmp_path):
    store = MemoryConditionalStore()
    root = str(tmp_path / "t")
    stale = TableLock(root, owner="dead", lease_seconds=-1.0, adapter=store)
    stale.acquire()  # born expired, never released
    with TableLock(root, owner="live", timeout=0.5, adapter=store) as lk:
        assert json.loads(store.read(lk.path))["owner"] == "live"
    # the dead holder's release must NOT remove the newer lock
    holder = TableLock(root, owner="x", lease_seconds=-1.0, adapter=store)
    holder.acquire()
    taker = TableLock(root, owner="y", timeout=0.5, adapter=store)
    taker.acquire()
    with pytest.raises(LockHeldError):
        holder.refresh()  # lost lease must refuse to refresh
    holder.release()  # and release must NOT remove the taker's lock
    assert json.loads(store.read(taker.path))["owner"] == "y"
    taker.release()
    assert store.read(taker.path) is None


def test_lock_refresh_cas_beats_toctou_on_memory_store(tmp_path):
    """True CAS: even if another writer swaps the payload between our
    read and our write, replace_if_match fails atomically — the
    residue the local adapter documents is CLOSED here."""
    store = MemoryConditionalStore()
    root = str(tmp_path / "t")
    lk = TableLock(root, owner="a", lease_seconds=3600, adapter=store)
    lk.acquire()
    # sabotage: a foreign writer replaces the payload out from under us
    store.put_atomic(lk.path, json.dumps({"owner": "intruder",
                                          "expiry": 9e18}))
    with pytest.raises(LockHeldError):
        lk.refresh()
    assert json.loads(store.read(lk.path))["owner"] == "intruder"


def test_lock_contention_exactly_one_winner_memory_store(tmp_path):
    store = MemoryConditionalStore()
    root = str(tmp_path / "t")
    wins: list[str] = []
    mu = threading.Lock()

    def contend(name: str):
        try:
            lk = TableLock(root, owner=name, timeout=0.05, adapter=store)
            lk.acquire()
            with mu:
                wins.append(name)
        except LockHeldError:
            pass

    threads = [threading.Thread(target=contend, args=(f"w{i}",))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1


# --- snapshot metadata plane on the conditional store ----------------------


def _commit_days(spark, store, tmp_path, tag, days):
    from pyspark.sql import functions as F

    edir = str(tmp_path / f"stage_{tag}")
    df = spark.range(8)
    expr = F.lit(days[0])
    for i, d in enumerate(days[1:], 1):
        expr = F.when(F.col("id") % len(days) == i, F.lit(d)).otherwise(expr)
    df.withColumn("_dp", expr).write.mode("overwrite").partitionBy(
        "_dp"
    ).parquet(os.path.join(edir, "t"))
    return store.commit_staged(edir, op=tag)


def test_snapshot_protocol_on_memory_store(spark, tmp_path):
    """create -> commit -> read -> time travel -> rollback -> expire,
    with the pointer and every manifest living ONLY in the conditional
    store (no _VERSION / _manifests on disk)."""
    ad = MemoryConditionalStore()
    root = str(tmp_path / "snap")
    store = SnapshotStore.create(root, adapter=ad)
    v1 = _commit_days(spark, store, tmp_path, "init", ["2024-01-01"])
    v2 = _commit_days(spark, store, tmp_path, "append",
                      ["2024-01-01", "2024-01-02"])
    assert (v1, v2) == (1, 2)
    assert not os.path.exists(os.path.join(root, "_VERSION"))
    assert ad.read(os.path.join(root, "_VERSION")) is not None
    # a FRESH handle on the same adapter sees the committed state
    fresh = SnapshotStore(root, adapter=ad)
    assert fresh.current_version() == 2
    assert fresh.read(spark, "t").count() == 8
    assert fresh.read(spark, "t", version=1).count() == 8
    assert sorted(fresh.table_days("t")) == ["2024-01-01", "2024-01-02"]
    assert [r["version"] for r in fresh.history()] == [0, 1, 2]
    dropped = fresh.expire(before="2024-01-02")
    assert dropped == ["2024-01-01"]
    assert fresh.table_days("t") == ["2024-01-02"]
    fresh.rollback(2)
    assert sorted(SnapshotStore(root, adapter=ad).table_days("t")) == [
        "2024-01-01", "2024-01-02",
    ]
    # vacuum sweeps manifests through the adapter's list primitive —
    # an os.listdir sweep would silently retain every manifest forever
    # on a store where manifests are objects, not files
    for e in range(4):
        fresh.commit_staged(None, op="append", epoch=e, direction="append")
    fresh.vacuum(keep_last=2)
    mroot = os.path.join(root, "_manifests")
    assert len(ad.list_prefix(mroot)) == 2
    with pytest.raises(Exception, match="vacuumed"):
        SnapshotStore(root, adapter=ad).manifest(0)
    assert SnapshotStore(root, adapter=ad).read(spark, "t").count() == 8


def test_snapshot_recover_on_memory_store(spark, tmp_path):
    """Both crash windows replay against the conditional store: data
    renamed in but manifest missing, and manifest present but pointer
    not flipped."""
    ad = MemoryConditionalStore()
    root = str(tmp_path / "snap")
    store = SnapshotStore.create(root, adapter=ad)
    _commit_days(spark, store, tmp_path, "init", ["2024-01-01"])
    # window 1: data dir present, manifest + pointer stale
    edir = str(tmp_path / "stage_crash")
    from pyspark.sql import functions as F

    spark.range(4).withColumn("_dp", F.lit("2024-01-02")).write.mode(
        "overwrite"
    ).partitionBy("_dp").parquet(os.path.join(edir, "t"))
    from rolaguard_data_collectors_spark.snapshots import _META, _atomic_write

    _atomic_write(os.path.join(edir, _META),
                  json.dumps({"op": "append", "mode": "replace"}))
    os.rename(edir, store._data_path(2))
    fresh = SnapshotStore(root, adapter=ad)
    assert fresh.current_version() == 1
    fresh.recover()
    assert fresh.current_version() == 2
    assert "2024-01-02" in fresh.table_days("t")
    # window 2: manifest written, pointer not flipped
    m3 = dict(fresh.manifest(2))
    m3.update(version=3, parent=2, op="noop")
    ad.put_atomic(fresh._manifest_path(3), json.dumps(m3))
    fresh2 = SnapshotStore(root, adapter=ad)
    fresh2.recover()
    assert fresh2.current_version() == 3


def test_epoch_replay_guard_on_memory_store(spark, tmp_path):
    ad = MemoryConditionalStore()
    root = str(tmp_path / "snap")
    store = SnapshotStore.create(root, adapter=ad)
    for e in (0, 1):
        store.commit_staged(None, op="append", epoch=e, direction="append")
    assert store.epoch_replay_check("append", 1) is True
    assert store.epoch_replay_check("append", 2) is False
    with pytest.raises(Exception, match="epoch regression"):
        store.epoch_replay_check("append", 0)


# --- round 12 (ADVICE r11): path-prefix adapter resolution, internal
# lock routing, unique tmp names, create-race loudness ----------------------


def test_store_resolution_by_prefix(tmp_path):
    """A registered prefix routes EVERY bare SnapshotStore/TableLock
    construction (the sink/builder shape: path only, no adapter=) to
    the adapter — including the maintenance entry points' internal
    locks, which previously fell back to the local filesystem and
    silently voided cross-host mutual exclusion."""
    from rolaguard_data_collectors_spark import storage
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore
    from rolaguard_data_collectors_spark.tablelock import TableLock

    root = str(tmp_path / "routed")
    ad = MemoryConditionalStore()
    storage.register_adapter(str(tmp_path), ad)
    try:
        st = SnapshotStore.create(root)  # no adapter= anywhere
        assert st._store is ad
        # metadata landed in the memory store, not on disk
        assert ad.read(os.path.join(root, "_VERSION")) is not None
        assert not os.path.exists(os.path.join(root, "_VERSION"))
        # a bare TableLock resolves to the same store: its lease file
        # must be visible to (and block) an adapter-passing competitor
        with TableLock(root, owner="bare"):
            comp = TableLock(root, owner="explicit", adapter=ad,
                             timeout=0.1, poll=0.02)
            with pytest.raises(LockHeldError):
                comp.acquire()
        # unrelated paths still resolve to the POSIX default
        other = str(tmp_path.parent / "elsewhere-root")
        from rolaguard_data_collectors_spark.storage import LOCAL, store_for
        assert store_for(other) is LOCAL
    finally:
        storage.unregister_adapter(str(tmp_path))


def test_create_lost_race_fails_loudly(tmp_path):
    """Two first-builders racing through create(): the loser's
    _VERSION put_if_absent fails and create() raises instead of
    silently re-pointing the winner's table (ADVICE r11)."""
    from rolaguard_data_collectors_spark.snapshots import (
        SnapshotError,
        SnapshotStore,
    )

    root = str(tmp_path / "race")
    ad = MemoryConditionalStore()
    SnapshotStore.create(root, adapter=ad)
    with pytest.raises(SnapshotError, match="already a snapshot"):
        SnapshotStore.create(root, adapter=ad)


def test_vacuum_sweeps_orphan_tmp(spark, tmp_path):
    """A crash-orphaned atomic-write temp file under _manifests is
    deleted by vacuum's manifest sweep instead of surviving every
    sweep forever (ADVICE r11: the old fixed '.tmp' name was also
    skipped by the v*.json filter)."""
    import pandas as pd

    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    root = str(tmp_path / "t")
    store = SnapshotStore.create(root)
    edir = str(tmp_path / "stage")
    os.makedirs(os.path.join(edir, "tbl", "_dp=2024-01-01"))
    pd.DataFrame({"a": [1]}).to_parquet(
        os.path.join(edir, "tbl", "_dp=2024-01-01", "p.parquet")
    )
    store.commit_staged(edir, op="init")
    orphan = os.path.join(root, "_manifests",
                          "v000001.json.deadbeef-aa.tmp")
    with open(orphan, "w", encoding="utf-8") as fh:
        fh.write("{torn")
    store.vacuum(keep_last=2)
    assert not os.path.exists(orphan)
    # the real manifest survived
    assert store.manifest()["version"] == 1


def test_atomic_write_tmp_names_unique(tmp_path):
    """Concurrent atomic writes to one path never share a temp file
    (the lease-expiry TOCTOU interleave ADVICE r11 flagged): each
    rename publishes a COMPLETE payload."""
    from rolaguard_data_collectors_spark.storage import LocalFSStore

    store = LocalFSStore()
    path = str(tmp_path / "target")
    payloads = ["x" * 10_000, "y" * 10_000]
    errs: list = []

    def writer(p):
        try:
            for _ in range(50):
                store.put_atomic(path, p)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(p,)) for p in payloads]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    with open(path, encoding="utf-8") as fh:
        final = fh.read()
    assert final in payloads, "torn payload published"
    leftovers = [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]
    assert leftovers == [], leftovers


def test_full_epoch_through_adapter_no_metadata_rename(spark, sf_dir,
                                                       tmp_path,
                                                       monkeypatch):
    """VERDICT r12 item 6: a FULL maintained-artifact epoch (create ->
    append -> read -> vacuum) with ALL metadata IO through a non-POSIX
    adapter while Spark reads/writes the data dirs on the local
    filesystem. os.replace/os.rename are guarded to REFUSE any
    metadata-plane target (_VERSION/_LOCK/_manifests) under the table
    root for the whole epoch, proving the protocol has zero rename
    dependency on the metadata plane — data-dir publishes (the Spark
    write side) legitimately stay POSIX renames locally."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark import storage
    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_append,
        persist_cascade,
        read_grain,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    cpath = str(tmp_path / "cascade_adapter")

    def _guard(real):
        def wrapped(src, dst, *a, **kw):
            for p in (os.fspath(src), os.fspath(dst)):
                base = os.path.basename(p)
                if p.startswith(cpath) and (
                    base.startswith("_VERSION")
                    or base.startswith("_LOCK")
                    or (os.sep + "_manifests" + os.sep) in p
                ):
                    raise AssertionError(
                        f"metadata-plane rename: {src} -> {dst}"
                    )
            return real(src, dst, *a, **kw)

        return wrapped

    monkeypatch.setattr(os, "replace", _guard(os.replace))
    monkeypatch.setattr(os, "rename", _guard(os.rename))

    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 3 == 0)
    extra = ev.where(F.col("event_id") % 3 == 1)
    base_dir = str(tmp_path / "corpus")
    os.makedirs(base_dir)
    base.toPandas().to_parquet(
        os.path.join(base_dir, "events.parquet"), index=False
    )

    ad = MemoryConditionalStore()
    storage.register_adapter(cpath, ad)
    try:
        persist_cascade(spark, base_dir, cpath)
        cascade_append(spark, cpath, extra)
        store = SnapshotStore(cpath)
        assert store._store is ad
        store.vacuum(keep_last=2)

        # the read side agrees with a declarative rebuild
        want = {
            (str(r["window_start"]), r["event_type"]): r["n"]
            for r in base.unionByName(extra)
            .groupBy(
                F.date_trunc("minute", F.col("ts")).alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in read_grain(spark, cpath, "minute").collect()
        }
        assert got == want

        # every metadata object lives in the adapter, none on disk
        assert ad.read(os.path.join(cpath, "_VERSION")) is not None
        assert ad.list_prefix(os.path.join(cpath, "_manifests"))
        assert not os.path.exists(os.path.join(cpath, "_VERSION"))
        assert not os.path.exists(os.path.join(cpath, "_LOCK"))
        mdir = os.path.join(cpath, "_manifests")
        assert not (os.path.isdir(mdir) and os.listdir(mdir)), (
            "manifests leaked to the POSIX plane"
        )
        # and the data plane is real parquet Spark can scan
        assert os.path.isdir(os.path.join(cpath, "data"))
    finally:
        storage.unregister_adapter(cpath)
