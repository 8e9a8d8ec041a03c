"""Snapshot-versioned table layout (snapshots.py): the manifest +
version-pointer commit protocol that gives every maintained artifact
(cascade grains, near-dup ledger, IVF index) reader snapshot isolation,
atomic cross-table commits, time travel, metadata-only retention, and
vacuum.

Reference parity note: the reference keeps no durable state at all
(`auditing/datacollectors/BaseCollector.py:20-25` mutable dicts);
this layer belongs to the engine's own lake-maintenance story.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.catalog import load_table
from rolaguard_data_collectors_spark.operators.cascade import (
    CascadeMaintenanceSink,
    cascade_append,
    cascade_grains,
    cascade_retract,
    persist_cascade,
    read_grain,
)
from rolaguard_data_collectors_spark.snapshots import (
    NULL_DAY,
    SnapshotError,
    SnapshotStore,
    SnapshotVacuumedError,
)


def _snap(spark, path):
    return {
        g: {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in read_grain(spark, path, g).collect()
        }
        for g in ("minute", "hour", "day")
    }


def _assert_equals_recompute(spark, path, sf_dir):
    """Every grain of the maintained table equals ``cascade_grains``
    recomputed from the events under ``sf_dir``."""
    got = _snap(spark, path)
    for g, df in cascade_grains(spark, sf_dir).items():
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in df.collect()
        }
        assert got[g] == want, g


def _events_dir(tmp_path, name, df):
    d = str(tmp_path / name)
    os.makedirs(d)
    df.toPandas().to_parquet(os.path.join(d, "events.parquet"), index=False)
    return d


def test_snapshot_cascade_append_retract_equals_recompute(
    spark, sf_dir, tmp_path
):
    """persist/append/retract on the snapshot table land bit-identical
    grain content to a recompute over the events present at each step,
    one version per operation."""
    ev = load_table(spark, sf_dir, "events")
    snap = str(tmp_path / "snap")
    base_dir = _events_dir(tmp_path, "base",
                           ev.where(F.col("event_id") % 3 != 0))
    batch = ev.where(F.col("event_id") % 3 == 0)

    persist_cascade(spark, base_dir, snap)
    _assert_equals_recompute(spark, snap, base_dir)
    cascade_append(spark, snap, batch)
    _assert_equals_recompute(spark, snap, sf_dir)
    cascade_retract(spark, snap, batch)
    _assert_equals_recompute(spark, snap, base_dir)
    # three commits: init, append, retract
    assert SnapshotStore(snap).current_version() == 3


def test_snapshot_reader_isolation_and_time_travel(spark, sf_dir, tmp_path):
    """The property an in-place partition swap cannot give: a reader pinned
    BEFORE a commit still scans its exact snapshot afterwards (no
    vanished files mid-scan), any historical version stays readable
    until vacuumed, and a vacuumed version raises a NAMED error."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    v1 = store.current_version()

    pinned = store.read(spark, "minute", version=v1)
    pinned_rows = pinned.count()
    pinned_files = set(pinned.inputFiles())

    batch = ev.where(F.col("event_id") % 4 == 0)
    cascade_retract(spark, path, batch)  # rewrites + maybe drops days
    assert store.current_version() == v1 + 1

    # the pinned frame re-collects IDENTICALLY: its files are immutable
    assert pinned.count() == pinned_rows
    assert set(pinned.inputFiles()) == pinned_files
    for f in pinned_files:
        assert os.path.exists(f.replace("file:", "")), f

    # time travel to v1 equals the pinned snapshot
    tt = store.read(spark, "minute", version=v1)
    assert tt.count() == pinned_rows

    # vacuum with keep_last=1 retires v1; its manifest read now raises
    store.vacuum(keep_last=1)
    with pytest.raises(SnapshotVacuumedError):
        store.manifest(v1)
    # current version still reads fine and equals a live recompute
    live = read_grain(spark, path, "minute")
    assert live.count() > 0


def test_snapshot_manifest_pruning_reads_only_requested_days(
    spark, sf_dir, tmp_path
):
    """Partition pruning moved into the manifest: a days= read lists
    ONLY those days' pinned directories — the scan's inputFiles all
    live under them (zero listing of the other 29 days)."""
    path = str(tmp_path / "snap")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    days = [d for d in store.table_days("minute") if d != "__null__"]
    pick = days[:2]
    df = store.read(spark, "minute", days=pick)
    files = df.inputFiles()
    assert files
    for f in files:
        assert any(f"_dp={d}" in f for d in pick), f
    got_days = {r["_d"] for r in df.select("_d").distinct().collect()}
    assert got_days == set(pick)


def test_snapshot_sink_exactly_once_and_all_crash_windows(
    spark, sf_dir, tmp_path
):
    """Every commit crash window on the snapshot table replays to the
    exact full recompute: (a) staged but not committed (marker
    present), (b) data renamed in but manifest missing, (c) manifest
    written but pointer not flipped, (d) committed-epoch replay no-op.
    The epoch record rides the manifest, so there is no window where
    data is visible but the epoch unrecorded, or vice versa."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_sink")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    batches = [ev.where(F.col("event_id") % 4 == i) for i in range(4)]

    class Boom(Exception):
        pass

    sink = CascadeMaintenanceSink(path)
    sink(batches[0], 0)
    s0 = _snap(spark, path)
    sink(batches[0], 0)  # (d) replay of committed epoch: no-op
    assert _snap(spark, path) == s0
    assert store.epoch_committed("append", 0)
    assert not store.epoch_committed("retract", 0)

    # (a) crash after staging, before commit_staged
    orig_commit = SnapshotStore.commit_staged

    def dying_commit(self, *a, **k):
        raise Boom()

    SnapshotStore.commit_staged = dying_commit
    try:
        with pytest.raises(Boom):
            sink(batches[1], 1)
    finally:
        SnapshotStore.commit_staged = orig_commit
    assert _snap(spark, path) == s0  # nothing visible
    sink(batches[1], 1)  # replay: marker present -> commit staged state
    s1 = _snap(spark, path)
    assert s1 != s0

    # (b) crash after os.rename, before manifest/pointer (_finish)
    orig_finish = SnapshotStore._finish

    def dying_finish(self, n):
        raise Boom()

    SnapshotStore._finish = dying_finish
    try:
        with pytest.raises(Boom):
            sink(batches[2], 2)
    finally:
        SnapshotStore._finish = orig_finish
    assert _snap(spark, path) == s1  # pointer never moved
    sink(batches[2], 2)  # replay: recover() rebuilds manifest + flips
    s2 = _snap(spark, path)
    assert store.epoch_committed("append", 2)

    # (c) manifest written but pointer not flipped: simulate by
    # rewinding the pointer one version (the flip itself is atomic;
    # this is byte-identical to a crash between the two writes)
    cur = store.current_version()
    with open(os.path.join(path, SnapshotStore.VERSION_FILE), "w") as fh:
        json.dump({"version": cur - 1}, fh)
    sink(batches[2], 2)  # replay: recover() flips forward, then skips
    assert SnapshotStore(path).current_version() == cur
    assert _snap(spark, path) == s2

    sink(batches[3], 3)
    full = cascade_grains(spark, sf_dir)
    got = _snap(spark, path)
    for g in ("minute", "hour", "day"):
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in full[g].collect()
        }
        assert got[g] == want, g


def test_snapshot_empty_batch_epoch_commits_metadata_only(spark, tmp_path):
    """An empty micro-batch must still RECORD its epoch (else restart
    replays it forever) — on the snapshot table that is a
    metadata-only version: epoch_high bumps, no table entries change."""
    path = str(tmp_path / "snap_empty")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    sink = CascadeMaintenanceSink(path)
    schema = "ts timestamp, event_type string, value double"
    empty = spark.createDataFrame([], schema)
    sink(empty, 0)
    assert store.current_version() == 1
    assert store.epoch_committed("append", 0)
    assert store.manifest()["tables"] == {}
    sink(empty, 0)  # replay: skipped, no version churn
    assert store.current_version() == 1


def test_snapshot_retract_whole_day_drops_atomically(spark, sf_dir, tmp_path):
    """Retracting ALL of a day's events removes that day from EVERY
    grain in ONE version — the cross-grain atomicity the per-partition
    per-partition swap cannot express — while a pre-retract pinned version
    still serves the dropped day until vacuum."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_drop")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    v1 = store.current_version()
    day = next(d for d in store.table_days("day") if d != "__null__")
    batch = ev.where(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == day
    )
    assert batch.count() > 0

    cascade_retract(spark, path, batch)
    assert store.current_version() == v1 + 1
    for g in ("minute", "hour", "day"):
        assert day not in store.table_days(g), g
    # pinned pre-retract snapshot still reads the dropped day
    old = store.read(spark, "day", version=v1, days=[day])
    assert old.count() > 0


def test_snapshot_expire_is_metadata_only_then_vacuum_reclaims(
    spark, sf_dir, tmp_path
):
    """Retention on a snapshot table drops days by manifest edit alone
    (O(partitions) pointer work — no data IO at 100 TB); the bytes
    stay on disk for pinned readers until vacuum retires them."""
    path = str(tmp_path / "snap_exp")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    days = store.table_days("day")
    cutoff = days[2]
    expect_drop = [d for d in days if d < cutoff]

    m1 = store.manifest()
    old_dirs = [
        os.path.join(path, rel)
        for d in expect_drop
        for rel in m1["tables"]["day"][d]
    ]
    dropped = store.expire(before=cutoff)
    assert dropped == expect_drop
    for g in ("minute", "hour", "day"):
        assert all(d not in store.table_days(g) for d in expect_drop), g
    # metadata-only: every expired day's data dir is STILL on disk
    assert all(os.path.isdir(p) for p in old_dirs)
    # ... and the pre-expire version still reads them (time travel)
    assert store.read(
        spark, "day", version=store.current_version() - 1, days=expect_drop
    ).count() > 0

    store.vacuum(keep_last=1)
    assert not any(os.path.isdir(p) for p in old_dirs)
    # keep= allowlist form on a single grain
    keep = set(store.table_days("day")[:1]) | {"__null__"}
    store.expire(keep=keep)
    assert set(store.table_days("day")) <= keep


def test_snapshot_compact_is_reader_safe_and_content_identical(
    spark, sf_dir, tmp_path
):
    """Compaction commits a NEW version: content identical, small
    files merged, and a reader pinned on the pre-compact version keeps
    scanning the original files (no epoch fence needed — nothing it
    read is deleted until vacuum)."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_cmp")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    # many-file partitions: append via a sink whose staged write is
    # forced wide (repartition before the sink sees it doesn't help —
    # AQE coalesces), so fabricate by several distinct appends and then
    # MANUALLY splitting one partition's files is fragile; instead
    # lower the bar: compact with max_files=0 rewrites every partition.
    cascade_append(spark, path, ev)
    pre_version = store.current_version()
    pre = _snap(spark, path)
    pinned = store.read(spark, "minute", version=pre_version)
    pinned_files = set(pinned.inputFiles())

    done = store.compact(spark, max_files=0, target_files=1)
    assert done, "nothing compacted"
    assert store.current_version() == pre_version + 1
    assert _snap(spark, path) == pre
    # every live partition now reads exactly ONE file
    m = store.manifest()
    for g, parts in m["tables"].items():
        for d, rels in parts.items():
            assert len(rels) == 1, (g, d, rels)
            files = [
                f for f in os.listdir(os.path.join(path, rels[0]))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (g, d, files)
    # pre-compact reader: files untouched until vacuum
    assert set(pinned.inputFiles()) == pinned_files
    assert pinned.count() == store.read(spark, "minute").count()
    store.vacuum(keep_last=1)
    gone = [
        f for f in pinned_files if not os.path.exists(f.replace("file:", ""))
    ]
    assert gone, "vacuum reclaimed nothing"


def test_snapshot_pending_commit_recovery_before_stage_read(
    spark, sf_dir, tmp_path
):
    """A crashed commit left data/v(N) renamed in but unflipped; the
    NEXT writer must finish it BEFORE its stage-read, else it would
    stage against the pre-crash state and silently drop the pending
    version's rows for every day both commits touch."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_pend")
    base = ev.where(F.col("event_id") % 3 == 0)
    b1 = ev.where(F.col("event_id") % 3 == 1)
    b2 = ev.where(F.col("event_id") % 3 == 2)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    base.toPandas().to_parquet(
        os.path.join(base_dir, "events.parquet"), index=False
    )
    persist_cascade(spark, base_dir, path)

    class Boom(Exception):
        pass

    orig_finish = SnapshotStore._finish

    def dying_finish(self, n):
        raise Boom()

    SnapshotStore._finish = dying_finish
    try:
        with pytest.raises(Boom):
            cascade_append(spark, path, b1)  # crash after rename
    finally:
        SnapshotStore._finish = orig_finish

    # next writer recovers the pending commit, then merges on top
    cascade_append(spark, path, b2)
    got = _snap(spark, path)
    full = cascade_grains(spark, sf_dir)
    for g in ("minute", "hour", "day"):
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in full[g].collect()
        }
        assert got[g] == want, g


def test_retract_that_empties_every_touched_day(spark, sf_dir, tmp_path):
    """Edge found while building the snapshot layer: a retraction whose
    batch cancels EVERY touched day leaves nothing to stage — the old
    code wrote an empty minute parquet dir and the hour derivation died
    on schema inference. The stage is now just the drop list."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "full")
    persist_cascade(spark, sf_dir, path)
    day = next(
        d for d in sorted(
            r["d"] for r in ev.select(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                .alias("d")
            ).where(F.col("d").isNotNull()).distinct().collect()
        )
    )
    batch = ev.where(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == day
    )
    before = _snap(spark, path)
    touched = cascade_retract(spark, path, batch)
    assert touched == [day]
    after = _snap(spark, path)
    for g in ("minute", "hour", "day"):
        lost = {k for k in before[g] if k not in after[g]}
        assert lost and all(
            str(k[0])[:10] == day for k in lost if k[0] is not None
        ), g
        # surviving groups bit-identical
        assert all(after[g][k] == before[g][k] for k in after[g]), g


def test_snapshot_retract_sink_whole_day_drop_is_committed(
    spark, sf_dir, tmp_path
):
    """Round-10 review find: a STREAMING retraction epoch that empties
    every touched day stages only the _DROPPED list — the sink must
    commit that as content (dropping the days from the manifest), not
    as a metadata-only epoch bump that records the epoch while losing
    the drops forever."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_dsink")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    CascadeMaintenanceSink(path)(ev, 0)
    day = next(d for d in store.table_days("day") if d != "__null__")
    batch = ev.where(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == day
    )
    assert batch.count() > 0

    rsink = CascadeMaintenanceSink(path, negate=True)
    rsink(batch, 0)
    for g in ("minute", "hour", "day"):
        assert day not in store.table_days(g), g
    assert store.epoch_committed("retract", 0)
    before = _snap(spark, path)
    rsink(batch, 0)  # committed-epoch replay: no-op, no error
    assert _snap(spark, path) == before


def test_snapshot_ivf_sink_replay_safe_past_vacuum_horizon(
    spark, sf_dir, tmp_path
):
    """Round-10 review find: the sink's exactly-once check must ride
    epoch_high (carried by every commit), not the manifest walk that
    stops at the vacuum horizon — an epoch whose own manifest was
    vacuumed would otherwise double-append on replay."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        IvfAppendSink,
        ivf_index_append,
        persist_ivf_index,
    )

    emb = _ivf_emb(spark, sf_dir)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 != 0
    ).toPandas().to_parquet(
        os.path.join(base_dir, "embeddings.parquet"), index=False
    )
    path = str(tmp_path / "snap_vh")
    persist_ivf_index(spark, base_dir, path, k=4, iters=2)
    sink = IvfAppendSink(path)
    newv = emb.where(F.col("vec_id") % 3 == 0)
    b_epoch = newv.where(F.col("vec_id") % 5 == 0).limit(20)
    sink(b_epoch, 0)

    # push epoch 0's manifest past the vacuum horizon (disjoint batch)
    store = SnapshotStore(path)
    ivf_index_append(spark, path, newv.where(F.col("vec_id") % 5 == 1))
    store.vacuum(keep_last=1)
    assert 0 not in sink.committed()  # the FEED is horizon-limited...
    s1 = _ivf_posts(spark, path)
    sink(b_epoch, 0)  # ...but the replay must still be a no-op
    assert _ivf_posts(spark, path) == s1
    assert len(s1) == len(set(s1))  # no duplicated vec_ids anywhere


def test_snapshot_compact_preserves_evolved_columns(spark, tmp_path):
    """Round-10 review find: compacting a partition whose add-mode dir
    list spans a schema change must read TYPED (manifest schema) — an
    untyped read takes the first file's schema and silently nulls the
    evolved column in the rewrite."""
    import json

    from rolaguard_data_collectors_spark.snapshots import STAGE_PART_PREFIX
    from rolaguard_data_collectors_spark.tablelock import TableLock

    path = str(tmp_path / "snap_cev")
    SnapshotStore.create(path)
    store = SnapshotStore(path)

    def stage(df, tag):
        edir = os.path.join(path, f"_stage_{tag}")
        df.write.parquet(os.path.join(edir, "tbl", STAGE_PART_PREFIX + "k"))
        with open(os.path.join(edir, "_SCHEMAS.json"), "w") as fh:
            json.dump({"tbl": df.schema.json()}, fh)
        return edir

    old = spark.range(4).select(F.col("id").alias("a"))
    new = spark.range(2).select(
        (F.col("id") + 10).alias("a"), F.lit("v").alias("b")
    )
    with TableLock(path, owner="test"):
        store.commit_staged(stage(old, "v1"), op="init")
        store.commit_staged(stage(new, "v2"), op="append", mode="add")

    store.compact(spark, max_files=1, target_files=1)
    rows = {r["a"]: r["b"] for r in store.read(spark, "tbl").collect()}
    assert rows[10] == "v" and rows[11] == "v"  # evolved values SURVIVED
    assert all(rows[a] is None for a in range(4))


def test_snapshot_vacuum_reclaims_dead_versions_fully(spark, sf_dir,
                                                      tmp_path):
    """Round-10 review find: _SUCCESS markers are not partitions —
    vacuum must not report them as reclaimed, and a fully-dead
    version's dirs must actually disappear from disk."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_vac")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    cascade_append(spark, path, ev.limit(50))
    store.compact(spark, max_files=0, target_files=1)  # rewrites all
    removed = store.vacuum(keep_last=1)
    assert removed
    assert not any(r.endswith("_SUCCESS") for r in removed)
    droot = os.path.join(path, SnapshotStore.DATA_DIR)
    live = {
        os.path.relpath(os.path.join(path, rel), droot).split(os.sep)[0]
        for parts in store.manifest()["tables"].values()
        for rels in parts.values()
        for rel in rels
    }
    for vdir in os.listdir(droot):
        # every surviving version dir still holds live partitions
        assert vdir in live, vdir


def test_snapshot_failed_build_does_not_poison_root(spark, sf_dir,
                                                    tmp_path):
    """Round-10 review find: the version pointer is created only AFTER
    the staging job succeeded — a failed build leaves no snapshot
    root, and the retry simply works."""
    import rolaguard_data_collectors_spark.operators.cascade as C

    path = str(tmp_path / "snap_poison")

    class Boom(Exception):
        pass

    orig = C.cascade_grains

    def dying(*a, **k):
        raise Boom()

    C.cascade_grains = dying
    try:
        with pytest.raises(Boom):
            persist_cascade(spark, sf_dir, path)
    finally:
        C.cascade_grains = orig
    assert not SnapshotStore.is_snapshot(path)
    persist_cascade(spark, sf_dir, path)  # retry works
    assert SnapshotStore(path).current_version() == 1


def test_snapshot_create_refuses_double_init(tmp_path):
    path = str(tmp_path / "snap_dup")
    SnapshotStore.create(path)
    with pytest.raises(Exception, match="already a snapshot table"):
        SnapshotStore.create(path)


def test_snapshot_persist_rebuild_fails_fast_without_mutation(
    spark, sf_dir, tmp_path
):
    """Round-10 review find: re-running a snapshot persist against a
    LIVE table must fail BEFORE any mutation — previously the staging
    job ran, root metadata (the ledger's n_buckets!) was overwritten
    and the shared scratch rmtree'd leaselessly before create()
    finally raised."""
    import json

    from rolaguard_data_collectors_spark.llm.components import (
        persist_near_dup_ledger,
    )

    lpath = str(tmp_path / "led")
    persist_near_dup_ledger(spark, sf_dir, lpath, n_buckets=8)
    with open(os.path.join(lpath, "_meta.json")) as fh:
        meta_before = json.load(fh)
    with pytest.raises(ValueError, match="already a snapshot ledger"):
            persist_near_dup_ledger(spark, sf_dir, lpath, n_buckets=4)
    with open(os.path.join(lpath, "_meta.json")) as fh:
        assert json.load(fh) == meta_before  # n_buckets NOT rewritten

    cpath = str(tmp_path / "casc")
    persist_cascade(spark, sf_dir, cpath)
    before = _snap(spark, cpath)
    with pytest.raises(ValueError, match="already a snapshot cascade"):
        persist_cascade(spark, sf_dir, cpath)
    assert _snap(spark, cpath) == before


def test_snapshot_rollback_detects_cross_process_vacuum(
    spark, sf_dir, tmp_path
):
    """Round-10 review find: a rollback target cached by THIS instance
    but vacuumed by ANOTHER process must raise the named error, not
    commit a manifest pointing at deleted dirs."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_xv")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    v1 = store.current_version()
    store.manifest(v1)  # warm this instance's cache
    cascade_append(spark, path, ev.limit(40))
    store.compact(spark, max_files=0, target_files=1)  # rewrites all
    # "another process": fresh instance vacuums v1 away
    SnapshotStore(path).vacuum(keep_last=1)
    with pytest.raises(SnapshotVacuumedError):
        store.rollback(v1)
    # table still healthy
    assert read_grain(spark, path, "day").count() > 0


def test_snapshot_compact_zorder_skips_tables_without_columns(
    spark, tmp_path
):
    """Round-10 review find: cluster_by on a multi-table store must
    plainly rewrite tables whose schema lacks the cluster columns, not
    crash the whole maintenance pass mid-loop."""
    import json

    from rolaguard_data_collectors_spark.snapshots import STAGE_PART_PREFIX
    from rolaguard_data_collectors_spark.tablelock import TableLock

    path = str(tmp_path / "snap_mix")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    a = spark.range(2000).select(
        (F.col("id") % 41).cast("double").alias("x"),
        F.floor(F.col("id") / 41).cast("double").alias("y"),
    )
    b = spark.range(500).select(F.col("id").alias("k"))
    edir = os.path.join(path, "_stage_tmp")
    a.repartition(4).write.parquet(
        os.path.join(edir, "ta", STAGE_PART_PREFIX + "p")
    )
    b.repartition(4).write.parquet(
        os.path.join(edir, "tb", STAGE_PART_PREFIX + "p")
    )
    with open(os.path.join(edir, "_SCHEMAS.json"), "w") as fh:
        json.dump({"ta": a.schema.json(), "tb": b.schema.json()}, fh)
    with TableLock(path, owner="test"):
        store.commit_staged(edir, op="init")

    done = store.compact(spark, max_files=1, target_files=1,
                         cluster_by=("x", "y"))
    assert ("ta", "p") in done and ("tb", "p") in done
    assert store.read(spark, "ta").count() == 2000
    assert store.read(spark, "tb").count() == 500


def _ledger_state(spark, path):
    from rolaguard_data_collectors_spark.llm.components import (
        read_ledger_assign,
        read_ledger_labels,
        read_ledger_mins,
    )

    return (
        sorted((r.doc_id, r.cluster_id)
               for r in read_ledger_labels(spark, path).collect()),
        sorted((r["band"], r["bucket"], r["min_doc"])
               for r in read_ledger_mins(spark, path).collect()),
        sorted((r["band"], r["bucket"], r["doc_id"])
               for r in read_ledger_assign(spark, path).collect()),
    )


def test_snapshot_ledger_parity_roundtrip_and_atomic_commits(
    spark, sf_dir, tmp_path
):
    """The near-dup ledger on the snapshot table: append equals the full
    rebuild over the merged corpus, retract equals the full rebuild
    over the surviving corpus, retract+append round-trips, and each
    epoch is ONE version — labels, anchors and assignments commit
    atomically."""
    from rolaguard_data_collectors_spark.llm.components import (
        ledger_append,
        ledger_retract,
        persist_near_dup_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    old_dir = str(tmp_path / "old")
    os.makedirs(old_dir)
    old.toPandas().to_parquet(
        os.path.join(old_dir, "documents.parquet"), index=False
    )
    snap = str(tmp_path / "snap")
    persist_near_dup_ledger(spark, old_dir, snap, n_buckets=8)
    old_truth = _ledger_state(spark, snap)

    store = SnapshotStore(snap)
    ledger_append(spark, snap, new)
    assert store.current_version() == 2  # ONE atomic version per epoch

    # full-rebuild equality over the merged corpus
    truth = str(tmp_path / "truth")
    persist_near_dup_ledger(spark, sf_dir, truth, n_buckets=8)
    assert _ledger_state(spark, snap) == _ledger_state(spark, truth)

    before = _ledger_state(spark, snap)
    ledger_retract(spark, snap, new.select("doc_id"))
    assert store.current_version() == 3
    assert _ledger_state(spark, snap) == old_truth
    ledger_append(spark, snap, new)
    assert _ledger_state(spark, snap) == before


def test_snapshot_ledger_sink_exactly_once_crash_and_pinned_reader(
    spark, sf_dir, tmp_path
):
    """NearDupLedgerSink on a snapshot ledger: committed-epoch replay
    is a no-op, a crash between data rename and manifest flip stays
    invisible and replays clean, and a reader pinned pre-retract keeps
    its exact snapshot through a retract + vacuum(keep_last=3)."""
    from rolaguard_data_collectors_spark.llm.components import (
        NearDupLedgerSink,
        ledger_retract,
        persist_near_dup_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    old_dir = str(tmp_path / "old")
    os.makedirs(old_dir)
    old.toPandas().to_parquet(
        os.path.join(old_dir, "documents.parquet"), index=False
    )
    path = str(tmp_path / "snap_sink")
    persist_near_dup_ledger(spark, old_dir, path, n_buckets=8)
    store = SnapshotStore(path)
    sink = NearDupLedgerSink(path)
    b0 = new.where(F.col("doc_id") % 8 == 0)
    b1 = new.where(F.col("doc_id") % 8 != 0)

    sink(b0, 0)
    s0 = _ledger_state(spark, path)
    sink(b0, 0)  # replay of committed epoch
    assert _ledger_state(spark, path) == s0
    assert store.epoch_committed("append", 0)

    class Boom(Exception):
        pass

    orig_finish = SnapshotStore._finish

    def dying_finish(self, n):
        raise Boom()

    SnapshotStore._finish = dying_finish
    try:
        with pytest.raises(Boom):
            sink(b1, 1)
    finally:
        SnapshotStore._finish = orig_finish
    assert _ledger_state(spark, path) == s0  # crash invisible
    sink(b1, 1)  # replay: recover + commit

    # equality with the one-shot path over the same corpus
    truth = str(tmp_path / "truth")
    persist_near_dup_ledger(spark, sf_dir, truth, n_buckets=8)
    assert _ledger_state(spark, path)[0] == _ledger_state(spark, truth)[0]

    # pinned reader survives retract + vacuum
    v = store.current_version()
    pinned = store.read(spark, "labels", version=v)
    n0 = pinned.count()
    ledger_retract(spark, path, b0.select("doc_id"))
    store.vacuum(keep_last=3)
    assert pinned.count() == n0


def test_snapshot_compact_zorder_enables_box_skipping(spark, tmp_path):
    """compact(cluster_by=(x, y)) is the OPTIMIZE-ZORDER pass on the
    snapshot layout: content identical, and the rewritten partition's
    parquet footers get tight min/max on BOTH columns — a 2-D box
    predicate skips most files, where the round-robin layout skips
    none (same proof harness as tests/test_layout.py)."""
    import json

    from rolaguard_data_collectors_spark.plans.scale import (
        file_minmax_stats,
        skippable_fraction,
    )
    from rolaguard_data_collectors_spark.snapshots import STAGE_PART_PREFIX
    from rolaguard_data_collectors_spark.tablelock import TableLock

    path = str(tmp_path / "snap_z")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    df = spark.range(50_000).select(
        (F.col("id") % 223).cast("double").alias("x"),
        F.floor(F.col("id") / 223).cast("double").alias("y"),
    )
    edir = os.path.join(path, "_stage_tmp")
    pdir = os.path.join(edir, "tbl", STAGE_PART_PREFIX + "k")
    df.repartition(16).write.parquet(pdir)  # round-robin: wide stats
    with open(os.path.join(edir, "_SCHEMAS.json"), "w") as fh:
        json.dump({"tbl": df.schema.json()}, fh)
    with TableLock(path, owner="test"):
        store.commit_staged(edir, op="init")

    def live_stats():
        rels = store.manifest()["tables"]["tbl"]["k"]
        assert len(rels) == 1
        return file_minmax_stats(os.path.join(path, rels[0]), ["x", "y"])

    box = {"x": (0.0, 20.0), "y": (0.0, 20.0)}
    frac0 = skippable_fraction(live_stats(), box)
    before = sorted(
        (r["x"], r["y"]) for r in store.read(spark, "tbl").collect()
    )

    done = store.compact(spark, max_files=8, target_files=16,
                         cluster_by=("x", "y"))
    assert ("tbl", "k") in done
    after = sorted(
        (r["x"], r["y"]) for r in store.read(spark, "tbl").collect()
    )
    assert after == before
    frac1 = skippable_fraction(live_stats(), box)
    assert frac1 >= 0.5, (frac0, frac1)
    assert frac1 > frac0 + 0.3, (frac0, frac1)


def test_snapshot_schema_evolution_reads_old_files_with_nulls(
    spark, tmp_path
):
    """Reads are typed by the manifest's recorded schema, so adding a
    column is a metadata change: files written BEFORE the column
    existed project it as NULL, the result schema never depends on
    which file the reader lists first, and time travel to the old
    version still sees the old schema."""
    import json

    from rolaguard_data_collectors_spark.snapshots import STAGE_PART_PREFIX
    from rolaguard_data_collectors_spark.tablelock import TableLock

    path = str(tmp_path / "snap_evo")
    SnapshotStore.create(path)
    store = SnapshotStore(path)

    def stage(df, day, tag):
        edir = os.path.join(path, f"_stage_{tag}")
        df.write.parquet(
            os.path.join(edir, "tbl", STAGE_PART_PREFIX + day)
        )
        with open(os.path.join(edir, "_SCHEMAS.json"), "w") as fh:
            json.dump({"tbl": df.schema.json()}, fh)
        return edir

    v1_df = spark.range(5).select(F.col("id").alias("a"))
    with TableLock(path, owner="test"):
        store.commit_staged(stage(v1_df, "d1", "v1"), op="init")
    v1 = store.current_version()

    # v2 adds column b (and its partition's files carry it)
    v2_df = spark.range(3).select(
        (F.col("id") + 100).alias("a"), F.lit("new").alias("b")
    )
    with TableLock(path, owner="test"):
        store.commit_staged(stage(v2_df, "d2", "v2"), op="append")

    cur = store.read(spark, "tbl")
    assert cur.columns == ["a", "b"]
    rows = {r["a"]: r["b"] for r in cur.collect()}
    assert len(rows) == 8
    assert all(rows[a] is None for a in range(5))       # old files: NULL
    assert all(rows[a] == "new" for a in (100, 101, 102))
    # pruned read of ONLY the old partition still carries the new schema
    old_part = store.read(spark, "tbl", days=["d1"])
    assert old_part.columns == ["a", "b"]
    # time travel sees the old schema
    assert store.read(spark, "tbl", version=v1).columns == ["a"]


def test_snapshot_history_and_rollback(spark, sf_dir, tmp_path):
    """rollback(v) restores an older version's exact content as a NEW
    metadata-only commit (instant undo of a bad epoch, zero data IO);
    epoch records are NOT rewound, so a replay of the rolled-back
    epoch stays a no-op; history() lists the audit trail; rolling back
    past the vacuum horizon raises the named error."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_rb")
    SnapshotStore.create(path)
    store = SnapshotStore(path)
    sink = CascadeMaintenanceSink(path)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 != 0)

    sink(b0, 0)
    good = _snap(spark, path)
    v_good = store.current_version()
    sink(b1, 1)  # the "bad" epoch
    assert _snap(spark, path) != good

    n = store.rollback(v_good)
    assert n == store.current_version()
    assert _snap(spark, path) == good  # content restored
    # the rolled-back epoch stays committed: replay must NOT re-apply
    sink(b1, 1)
    assert _snap(spark, path) == good
    assert store.epoch_committed("append", 1)

    ops = [(h["version"], h["op"], h["epoch"]) for h in store.history()]
    assert ops == [
        (0, "create", None),
        (1, "append", 0),
        (2, "append", 1),
        (3, "rollback", None),
    ], ops

    # rollback target survives vacuum because the new manifest
    # references its dirs
    store.vacuum(keep_last=1)
    assert _snap(spark, path) == good
    with pytest.raises(SnapshotVacuumedError):
        store.rollback(1)  # past the horizon now


def test_snapshot_cascade_random_op_sequence_parity(spark, sf_dir, tmp_path):
    """Seeded random interleaving of cascade appends and retractions:
    after every step the table is bit-identical to the direct
    recompute over the currently-present events."""
    import random

    ev = load_table(spark, sf_dir, "events")
    ids = sorted(
        r.event_id
        for r in ev.select("event_id").where(
            F.col("event_id").isNotNull()
        ).collect()
    )
    rng = random.Random(11)
    present = set(rng.sample(ids, len(ids) // 2))
    absent = set(ids) - present

    start_dir = _events_dir(
        tmp_path, "start", ev.where(F.col("event_id").isin(sorted(present)))
    )
    snap = str(tmp_path / "snap")
    persist_cascade(spark, start_dir, snap)

    for step in range(5):
        if (rng.random() < 0.5 and absent) or not present:
            batch = set(rng.sample(sorted(absent), min(300, len(absent))))
            cascade_append(spark, snap,
                           ev.where(F.col("event_id").isin(sorted(batch))))
            present |= batch
            absent -= batch
        else:
            batch = set(rng.sample(sorted(present), min(300, len(present))))
            cascade_retract(spark, snap,
                            ev.where(F.col("event_id").isin(sorted(batch))))
            present -= batch
            absent |= batch
        truth_dir = _events_dir(
            tmp_path, f"truth{step}",
            ev.where(F.col("event_id").isin(sorted(present))),
        )
        _assert_equals_recompute(spark, snap, truth_dir)


def _ivf_emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _ivf_posts(spark, path):
    from rolaguard_data_collectors_spark.llm.kmeans import read_ivf_postings

    return sorted(
        (r["vec_id"], r["cluster"])
        for r in read_ivf_postings(spark, path)
        .select("vec_id", "cluster").collect()
    )


def test_snapshot_ivf_parity_atomic_apply_and_pinned_reader(
    spark, sf_dir, tmp_path
):
    """The IVF index on the snapshot table (ADD-mode commits): after
    init/append/delete/apply the postings equal a frozen-codebook
    rebuild — the live vectors routed against the persisted centroids —
    an append epoch never rewrites a cell (its staged dir is APPENDED
    to the manifest entry), apply_ivf_tombstones rewrites tombstoned
    cells and drains their sidecars in ONE atomic commit, and a reader
    pinned pre-apply keeps its exact files."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        _postings_frame,
        _route_for_index,
        apply_ivf_tombstones,
        ivf_index_append,
        ivf_index_delete,
        persist_ivf_index,
    )

    emb = _emb(spark, sf_dir)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 != 0
    ).toPandas().to_parquet(
        os.path.join(base_dir, "embeddings.parquet"), index=False
    )
    newv = emb.where(F.col("vec_id") % 3 == 0)
    snap = str(tmp_path / "snap")
    persist_ivf_index(spark, base_dir, snap, k=4, iters=2)

    def rebuild(ids):
        """(vec_id, cluster) of the frozen-codebook rebuild over ids."""
        return sorted(
            (r["vec_id"], r["cluster"])
            for r in _route_for_index(
                spark, snap, emb.where(F.col("vec_id").isin(sorted(ids)))
            ).select("vec_id", "cluster").collect()
        )

    live = {v for v, _ in _ivf_posts(spark, snap)}
    assert _ivf_posts(spark, snap) == rebuild(live)

    store = SnapshotStore(snap)
    new_ids = {r["vec_id"] for r in newv.select("vec_id").collect()}
    assert ivf_index_append(spark, snap, newv) == sorted(
        {c for _, c in rebuild(new_ids)}
    )
    live |= new_ids
    assert _ivf_posts(spark, snap) == rebuild(live)
    # ADD-mode: the appended cells' manifest entries now hold TWO dirs
    m = store.manifest()
    assert any(len(rels) == 2 for rels in m["tables"]["postings"].values())

    doomed = newv.select("vec_id").limit(7)
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    ivf_index_delete(spark, snap, doomed)
    live -= doomed_ids
    assert _ivf_posts(spark, snap) == rebuild(live)

    v = store.current_version()
    pinned = store.read(spark, "postings", version=v)
    pn = pinned.count()
    assert apply_ivf_tombstones(spark, snap)
    assert _ivf_posts(spark, snap) == rebuild(live)
    # physically gone, not just hidden by the reader's anti-join
    raw = sorted(
        (r["vec_id"], r["cluster"])
        for r in _postings_frame(spark, snap).collect()
    )
    assert raw == rebuild(live)
    # atomic drain: ONE commit rewrote the cells and emptied the sidecar
    assert store.current_version() == v + 1
    assert store.table_days("tombstones") == []
    assert pinned.count() == pn  # pre-apply reader undisturbed
    # id-reuse is legal again after apply
    ivf_index_append(spark, snap, emb.join(doomed, "vec_id").limit(2))
    live |= {v for v, _ in _ivf_posts(spark, snap)} & doomed_ids
    assert len(live & doomed_ids) == 2
    assert _ivf_posts(spark, snap) == rebuild(live)


def test_snapshot_ivf_sinks_exactly_once_and_changed_cells_feed(
    spark, sf_dir, tmp_path
):
    """IvfAppendSink/IvfDeleteSink on a snapshot index: epoch records
    (and the changed-cells feed committed() serves) ride the manifest —
    replay is a no-op, a crash between rename and flip stays invisible
    and replays clean, and the two directions' epoch counters never
    mask each other."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        IvfAppendSink,
        IvfDeleteSink,
        persist_ivf_index,
    )

    emb = _ivf_emb(spark, sf_dir)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 3 != 0
    ).toPandas().to_parquet(
        os.path.join(base_dir, "embeddings.parquet"), index=False
    )
    newv = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "snap_sink")
    persist_ivf_index(spark, base_dir, path, k=4, iters=2)
    sink = IvfAppendSink(path)
    b0 = newv.where(F.col("vec_id") % 2 == 0)
    b1 = newv.where(F.col("vec_id") % 2 != 0)

    sink(b0, 0)
    s0 = _ivf_posts(spark, path)
    sink(b0, 0)  # replay
    assert _ivf_posts(spark, path) == s0
    feed = sink.committed()
    assert 0 in feed and feed[0], feed  # changed-cells feed intact

    class Boom(Exception):
        pass

    orig_finish = SnapshotStore._finish

    def dying_finish(self, n):
        raise Boom()

    SnapshotStore._finish = dying_finish
    try:
        with pytest.raises(Boom):
            sink(b1, 1)
    finally:
        SnapshotStore._finish = orig_finish
    assert _ivf_posts(spark, path) == s0  # crash invisible
    sink(b1, 1)  # replay commits; epoch recorded with its cells
    assert 1 in sink.committed()

    dsink = IvfDeleteSink(path)
    dsink(b0.select("vec_id").limit(3), 0)
    assert 0 in dsink.committed()
    assert 0 in sink.committed()  # directions isolated
    # deleted rows hidden at the read immediately
    assert len(_ivf_posts(spark, path)) == len(
        set(_ivf_posts(spark, path))
    )


def test_snapshot_compact_merges_additive_fragments(spark, sf_dir, tmp_path):
    """Append epochs fragment a snapshot IVF cell across many small
    dirs; store.compact() folds each fragmented partition back to one
    dir/file in a single reader-safe commit."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        ivf_index_append,
        persist_ivf_index,
    )

    emb = _ivf_emb(spark, sf_dir)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 4 == 1
    ).toPandas().to_parquet(
        os.path.join(base_dir, "embeddings.parquet"), index=False
    )
    path = str(tmp_path / "snap_frag")
    persist_ivf_index(spark, base_dir, path, k=2, iters=2)
    for i in (0, 2, 3):
        ivf_index_append(spark, path,
                         emb.where(F.col("vec_id") % 4 == i))
    store = SnapshotStore(path)
    m = store.manifest()
    assert any(len(r) > 1 for r in m["tables"]["postings"].values())
    pre = _ivf_posts(spark, path)
    done = store.compact(spark, max_files=1, target_files=1)
    assert done
    assert _ivf_posts(spark, path) == pre
    m2 = store.manifest()
    assert all(len(r) == 1 for r in m2["tables"]["postings"].values())
    store.vacuum(keep_last=1)
    assert _ivf_posts(spark, path) == pre


def test_snapshot_ivf_concurrent_writer_stress(spark, sf_dir, tmp_path):
    """The three-writer IVF stress on the SNAPSHOT layout: concurrent
    append epochs, routed deletes + tombstone applies, and
    compact+vacuum, serialized only by the table lease and the
    version-commit protocol. Final index == (base + appends) − deletes
    exactly, tombstones drained, every surviving manifest readable."""
    import threading

    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        apply_ivf_tombstones,
        ivf_index_append,
        ivf_index_delete,
        persist_ivf_index,
        read_ivf_postings,
    )

    path = str(tmp_path / "snap_stress")
    persist_ivf_index(spark, sf_dir, path, k=4, iters=1)
    emb = _emb(spark, sf_dir)
    base_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    store = SnapshotStore(path)

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
            for b in append_batches:
                ivf_index_append(spark, path, b)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    def deleter():
        try:
            for b in delete_batches:
                ivf_index_delete(spark, path, b)
                apply_ivf_tombstones(spark, path)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def maintainer():
        try:
            apply_ivf_tombstones(spark, path)
            store.compact(spark, max_files=2, target_files=1)
            store.vacuum(keep_last=3)
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
    assert store.table_days("tombstones") == []
    # every retained version since table init is still fully readable
    for h in store.history():
        if h["op"] == "create":
            continue  # v0: empty pre-init manifest, no tables yet
        store.read(spark, "postings", version=h["version"]).count()


def test_snapshot_live_reader_survives_concurrent_churn(
    spark, sf_dir, tmp_path
):
    """The claim the layer exists for, exercised live: a reader
    pinning snapshots WHILE a writer thread appends, retracts,
    compacts and vacuums must (a) never hit a vanished file, (b)
    re-collect each pinned snapshot IDENTICALLY even after the table
    moved on, and (c) see the exact final state once the churn ends.
    An in-place partition swap would die mid-scan in the same
    interleaving, when it rmtree's a partition between a reader's
    listing and its read; here vacuum(keep_last=3) guarantees
    any snapshot the reader pinned within the last two commits is
    still fully on disk."""
    import threading

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "snap_churn")
    base = ev.where(F.col("event_id") % 4 == 0)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    base.toPandas().to_parquet(
        os.path.join(base_dir, "events.parquet"), index=False
    )
    persist_cascade(spark, base_dir, path)
    store = SnapshotStore(path)

    batches = [ev.where(F.col("event_id") % 4 == i) for i in (1, 2, 3)]
    errors: list[BaseException] = []
    done = threading.Event()

    def writer():
        try:
            for b in batches:
                cascade_append(spark, path, b)
                store.compact(spark, max_files=0, target_files=1)
                store.vacuum(keep_last=3)
            cascade_retract(spark, path, batches[0])
            store.vacuum(keep_last=3)
        except BaseException as exc:  # surface into the main thread
            errors.append(exc)
        finally:
            done.set()

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    reader = SnapshotStore(path)
    checks = 0
    while not done.is_set():
        v = reader.current_version()
        df = reader.read(spark, "minute", version=v)
        first = df.count()
        again = df.count()  # re-scan the SAME pinned file list
        assert first == again, (v, first, again)
        checks += 1
    t.join(120)
    assert not errors, errors
    assert checks > 0

    # final state == full recompute over base - batches[0] + all batches
    surv_dir = str(tmp_path / "surv")
    os.makedirs(surv_dir)
    ev.where(F.col("event_id") % 4 != 1).toPandas().to_parquet(
        os.path.join(surv_dir, "events.parquet"), index=False
    )
    full = cascade_grains(spark, surv_dir)
    got = _snap(spark, path)
    for g in ("minute", "hour", "day"):
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in full[g].collect()
        }
        assert got[g] == want, g


# --- round-11 advice hardening --------------------------------------------


def test_expire_before_rejects_non_day_keys(spark, tmp_path):
    """expire(before=) compares keys lexicographically — correct for
    ISO day keys, wrong for the unpadded numeric bucket keys the
    ledger/IVF stores use ('10' < '2'). The guard makes that misuse
    loud instead of silently mis-expiring."""
    path = str(tmp_path / "bucketed")
    store = SnapshotStore.create(path)
    edir = str(tmp_path / "stage")
    df = spark.range(20).withColumn("_dp", (F.col("id") % 12).cast("string"))
    df.write.mode("overwrite").partitionBy("_dp").parquet(
        os.path.join(edir, "t")
    )
    store.commit_staged(edir, op="init")
    with pytest.raises(Exception, match="ISO day keys"):
        store.expire(before="5")
    # keep= (the bucket-keyed path) still works
    keep = set(store.table_days("t")) - {"3"}
    dropped = store.expire(keep=keep)
    assert dropped == ["3"]


def test_expire_before_still_works_on_day_keys(spark, tmp_path):
    path = str(tmp_path / "daykeyed")
    store = SnapshotStore.create(path)
    edir = str(tmp_path / "stage_day")
    df = spark.range(10).withColumn(
        "_dp",
        F.when(F.col("id") < 5, F.lit("2024-01-01")).otherwise(
            F.lit("2024-02-10")
        ),
    )
    df.write.mode("overwrite").partitionBy("_dp").parquet(
        os.path.join(edir, "t")
    )
    store.commit_staged(edir, op="init")
    assert store.expire(before="2024-02-01") == ["2024-01-01"]


def test_expire_before_keeps_null_day_of_cascade_sink_table(spark, tmp_path):
    """A cascade table holding NULL-timestamp events has the dateless
    ``NULL_DAY`` partition next to its ISO days: ``before=`` expires
    the days before the bound, keeps that partition and does not raise
    on it; ``keep=`` can still drop it."""
    import datetime

    path = str(tmp_path / "casc_null_expire")
    store = SnapshotStore.create(path)
    schema = "ts timestamp, event_type string, value double"
    rows = [(datetime.datetime(2024, 3, d, 12), "click", float(d))
            for d in (1, 2, 3)] + [(None, "click", 9.0)]
    CascadeMaintenanceSink(path)(spark.createDataFrame(rows, schema), 0)
    days = ["2024-03-01", "2024-03-02", "2024-03-03", NULL_DAY]
    for g in ("minute", "hour", "day"):
        assert store.table_days(g) == days, g

    assert store.expire(before="2024-03-02") == ["2024-03-01"]
    for g in ("minute", "hour", "day"):
        assert store.table_days(g) == days[1:], g
    got = {r["window_start"] for r in read_grain(spark, path, "day").collect()}
    assert None in got and len(got) == 3
    # the bound itself must still be a day
    with pytest.raises(SnapshotError, match="ISO day keys"):
        store.expire(before=NULL_DAY)
    assert store.expire(before="2025-01-01") == days[1:3]
    assert store.table_days("day") == [NULL_DAY]
    assert store.expire(keep=set()) == [NULL_DAY]
    assert store.table_days("day") == []


def test_create_or_resume_resumes_empty_v0_root(spark, sf_dir, tmp_path):
    """A crash between create() and the init commit leaves an empty
    version-0 root; create_or_resume (and the builders' guards via
    has_committed_content) re-initialize it instead of demanding
    manual deletion — but refuse once content is committed."""
    path = str(tmp_path / "crashed")
    SnapshotStore.create(path)  # simulated crash: no init commit ever
    assert SnapshotStore.is_snapshot(path)
    assert not SnapshotStore.has_committed_content(path)
    store = SnapshotStore.create_or_resume(path)  # resumes, no raise
    edir = str(tmp_path / "stage_resume")
    spark.range(4).withColumn("_dp", F.lit("2024-01-01")).write.mode(
        "overwrite"
    ).partitionBy("_dp").parquet(os.path.join(edir, "t"))
    store.commit_staged(edir, op="init")
    assert SnapshotStore.has_committed_content(path)
    with pytest.raises(Exception, match="committed content"):
        SnapshotStore.create_or_resume(path)


def test_ledger_rebuild_allowed_after_crashed_init(spark, sf_dir, tmp_path):
    """Builder-level version of the crash window: SnapshotStore.create
    ran but the init commit never landed (empty v0 + _meta.json). The
    rebuild must succeed and rewrite _meta.json consistently."""
    from rolaguard_data_collectors_spark.llm.components import (
        persist_near_dup_ledger,
    )

    path = str(tmp_path / "led_crash")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"n_buckets": 16}, fh)
    SnapshotStore.create(path)  # crash before the init commit
    persist_near_dup_ledger(spark, sf_dir, path, n_buckets=8)
    store = SnapshotStore(path)
    assert store.current_version() == 1
    with open(os.path.join(path, "_meta.json")) as fh:
        assert json.load(fh)["n_buckets"] == 8


def test_epoch_replay_check_raises_on_regression(spark, tmp_path):
    """A stream restarted from a deleted checkpoint re-emits epoch 0
    against a store whose high-water is ahead; the high-water replay
    guard must raise (silently skipping every batch as 'already
    committed' is the failure the advice flagged), while the normal
    skip/apply semantics are unchanged."""
    path = str(tmp_path / "epochs")
    store = SnapshotStore.create(path)
    for epoch in (0, 1, 2):
        store.commit_staged(None, op="append", epoch=epoch,
                            direction="append")
    assert store.epoch_replay_check("append", 2) is True  # replay: skip
    assert store.epoch_replay_check("append", 3) is False  # new: apply
    assert store.epoch_replay_check("retract", 0) is False  # other dir
    with pytest.raises(Exception, match="epoch regression"):
        store.epoch_replay_check("append", 0)
    # the pure audit query stays non-raising
    assert store.epoch_committed("append", 0)


def test_history_does_not_pin_manifests_in_cache(spark, tmp_path):
    """history() is an audit listing; it must not cache every retained
    manifest (O(live partitions) each) on the instance."""
    path = str(tmp_path / "hist")
    store = SnapshotStore.create(path)
    for epoch in range(5):
        store.commit_staged(None, op="append", epoch=epoch,
                            direction="append")
    fresh = SnapshotStore(path)
    rows = fresh.history()
    assert [r["version"] for r in rows] == list(range(6))
    assert fresh._manifest_cache == {}


def _reject_cases():
    from rolaguard_data_collectors_spark.llm import components as C
    from rolaguard_data_collectors_spark.llm import kmeans as K
    from rolaguard_data_collectors_spark.operators import cascade as CA

    return {
        "cascade_append": lambda sp, p, df: CA.cascade_append(sp, p, df),
        "cascade_retract": lambda sp, p, df: CA.cascade_retract(sp, p, df),
        "ledger_append": lambda sp, p, df: C.ledger_append(sp, p, df),
        "ledger_retract": lambda sp, p, df: C.ledger_retract(sp, p, df),
        "ivf_index_append": lambda sp, p, df: K.ivf_index_append(sp, p, df),
        "ivf_index_delete": lambda sp, p, df: K.ivf_index_delete(sp, p, df),
        "apply_ivf_tombstones":
            lambda sp, p, df: K.apply_ivf_tombstones(sp, p),
        "CascadeMaintenanceSink":
            lambda sp, p, df: CA.CascadeMaintenanceSink(p)(df, 0),
        "NearDupLedgerSink": lambda sp, p, df: C.NearDupLedgerSink(p)(df, 0),
        "IvfAppendSink": lambda sp, p, df: K.IvfAppendSink(p)(df, 0),
        "IvfDeleteSink": lambda sp, p, df: K.IvfDeleteSink(p)(df, 0),
    }


@pytest.mark.parametrize("entry", sorted(_reject_cases()))
def test_maintenance_entry_points_reject_non_snapshot_root(spark, tmp_path,
                                                           entry):
    """Every maintenance entry point handed a path that is not a
    snapshot table raises the one named error, pointing at the
    builders — it never starts a new table tree there (neither in a
    missing path nor in an existing empty directory)."""
    from rolaguard_data_collectors_spark.snapshots import (
        NotASnapshotRootError,
    )

    call = _reject_cases()[entry]
    batch = spark.createDataFrame([], "doc_id long")
    missing = str(tmp_path / "missing")
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    for root in (missing, empty):
        with pytest.raises(NotASnapshotRootError, match="persist_cascade"):
            call(spark, root, batch)
    assert not os.path.exists(missing)
    assert os.listdir(empty) == []
    assert issubclass(NotASnapshotRootError, ValueError)
