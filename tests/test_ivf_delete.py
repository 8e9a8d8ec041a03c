"""Row-level deletes for the persisted IVF index (round-10 verdict
item #2): tombstone sidecars every reader anti-joins, physical drops
at apply time, crash windows, and frozen-codebook rebuild equivalence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.llm.kmeans import (
    IvfAppendSink,
    _emb,
    _postings_frame,
    _route_for_index,
    apply_ivf_tombstones,
    ivf_index_append,
    ivf_index_delete,
    ivf_index_topk,
    persist_ivf_index,
    read_ivf_postings,
)
from rolaguard_data_collectors_spark.snapshots import SnapshotStore

K = 4


def _build(spark, sf_dir, path, quantize=False):
    persist_ivf_index(spark, sf_dir, path, k=K, iters=1, quantize=quantize)
    emb = _emb(spark, sf_dir)
    ivf_index_append(
        spark, path,
        emb.limit(40).select((F.col("vec_id") + 10_000_000).alias("vec_id"), "v"),
    )
    return emb


def _rows(spark, path, reader=True):
    src = (read_ivf_postings(spark, path) if reader
           else _postings_frame(spark, path))
    payload = "v" if "v" in src.columns else "codes"
    return sorted(
        (r["vec_id"], r["cluster"], tuple(r[payload])) for r in src.collect()
    )


def test_delete_reader_excludes_then_apply_drops(spark, sf_dir, tmp_path):
    """Tombstoned rows vanish from the read path immediately; apply
    physically rewrites only the touched cells, drains the sidecar,
    and changes nothing the reader shows."""
    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    before = _rows(spark, path)

    # Doom ids from one cell only, so the other cells are untouched and
    # the check below that apply leaves their dirs alone compares some.
    cand = _postings_frame(spark, path).where(F.col("vec_id") % 9 == 1)
    victim = cand.groupBy("cluster").count().orderBy(
        F.desc("count"), "cluster").first()["cluster"]
    doomed = emb.join(
        cand.where(F.col("cluster") == victim).select("vec_id"), "vec_id"
    ).select("vec_id", "v")
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    assert doomed_ids
    touched = ivf_index_delete(spark, path, doomed)
    assert touched == [victim]

    want = [r for r in before if r[0] not in doomed_ids]
    assert _rows(spark, path) == want  # reader anti-joins
    assert len(_rows(spark, path, reader=False)) == len(before)  # no rewrite yet

    q = emb.where(F.col("vec_id") == 0).collect()[0]["v"]
    top_before_apply = [
        (r["vec_id"], r["cosine"])
        for r in ivf_index_topk(spark, path, list(q), top_k=8, n_probe=K).collect()
    ]
    assert not ({v for v, _ in top_before_apply} & doomed_ids)

    store = SnapshotStore(path)
    before_dirs = {
        c: rels for c, rels in store.manifest()["tables"]["postings"].items()
        if int(c) not in touched
    }
    assert before_dirs  # the delete touched a strict subset of cells
    applied = apply_ivf_tombstones(spark, path)
    assert applied == touched
    assert _rows(spark, path, reader=False) == want  # physically gone
    assert _rows(spark, path) == want
    assert store.table_days("tombstones") == []
    posts = store.manifest()["tables"]["postings"]
    for c, rels in before_dirs.items():  # untouched cells keep their dirs
        assert posts[c] == rels, c
    top_after = [
        (r["vec_id"], r["cosine"])
        for r in ivf_index_topk(spark, path, list(q), top_k=8, n_probe=K).collect()
    ]
    assert top_after == top_before_apply
    assert not os.path.exists(os.path.join(path, "_stage_tmp"))


def test_delete_by_ids_only_locates_cells(spark, sf_dir, tmp_path):
    """Without the embedding column the ids are located by joining the
    postings scan — same tombstones, same surviving rows; absent ids
    are dropped."""
    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    before = _rows(spark, path)
    doomed_ids = {r["vec_id"] for r in emb.where(F.col("vec_id") % 11 == 2)
                  .select("vec_id").collect()}
    ids_df = spark.createDataFrame(
        [(i,) for i in sorted(doomed_ids)] + [(999_999_999,)], "vec_id long"
    )
    touched = ivf_index_delete(spark, path, ids_df)
    assert touched
    want = [r for r in before if r[0] not in doomed_ids]
    assert _rows(spark, path) == want
    apply_ivf_tombstones(spark, path)
    assert _rows(spark, path, reader=False) == want


def test_delete_quantized_index(spark, sf_dir, tmp_path):
    """Quantized postings carry codes, not vectors: routing still uses
    the float embedding, the anti-join still keys on vec_id."""
    path = str(tmp_path / "ivfq")
    emb = _build(spark, sf_dir, path, quantize=True)
    before = _rows(spark, path)
    doomed = emb.where(F.col("vec_id") % 13 == 3).select("vec_id", "v")
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    ivf_index_delete(spark, path, doomed)
    want = [r for r in before if r[0] not in doomed_ids]
    assert _rows(spark, path) == want
    apply_ivf_tombstones(spark, path)
    assert _rows(spark, path, reader=False) == want


def test_delete_absent_ids_by_vector_then_apply(spark, sf_dir, tmp_path):
    """Routed deletes of ids that were never appended write ghost
    tombstones; readers ignore them and apply drains them — including
    when a touched cell has no live postings partition at all (the
    codebook owns the cell but no vector is left there)."""
    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    ghost = emb.limit(3).select(
        (F.col("vec_id") + 777_000_000).alias("vec_id"), "v"
    )
    touched = ivf_index_delete(spark, path, ghost)
    assert touched
    # retire one touched cell's postings partition entirely
    store = SnapshotStore(path)
    keep = set(store.table_days("postings")) - {str(touched[0])}
    store.expire(keep=keep, tables=["postings"])
    expect = [r for r in _rows(spark, path)]  # ghosts match nothing
    applied = apply_ivf_tombstones(spark, path)
    assert set(applied) == set(touched)
    assert _rows(spark, path, reader=False) == expect  # content unchanged
    assert store.table_days("tombstones") == []  # ghost sidecars drained


def test_append_delete_equals_frozen_codebook_rebuild(spark, sf_dir, tmp_path):
    """The done-criterion: after appends + deletes + apply, the posting
    rows equal routing exactly the SURVIVING vectors against the frozen
    codebook — i.e. an index rebuilt from the survivors with the same
    centroids, row for row."""
    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    appended = emb.limit(40).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "v"
    )
    doomed = emb.where(F.col("vec_id") % 6 == 0).select("vec_id", "v") \
        .unionByName(appended.where(F.col("vec_id") % 2 == 0))
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    ivf_index_delete(spark, path, doomed)
    apply_ivf_tombstones(spark, path)

    survivors = (
        emb.select("vec_id", "v").unionByName(appended)
        .where(~F.col("vec_id").isin(list(doomed_ids)))
    )
    want = sorted(
        (r["vec_id"], r["cluster"], tuple(r["v"]))
        for r in _route_for_index(spark, path, survivors).collect()
    )
    assert _rows(spark, path, reader=False) == want


def test_apply_crash_windows(spark, sf_dir, tmp_path, monkeypatch):
    """(a) crash while staging, BEFORE the commit: live index and
    tombstones untouched, the delete is never lost and the next apply
    completes it; (b) crash after the rewrite was renamed in, before
    its manifest: invisible until the next writer's recover() finishes
    the commit, which rewrote the cells AND drained the sidecar
    atomically — the follow-up apply finds nothing left to do."""
    import json

    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    before = _rows(spark, path)
    doomed = emb.where(F.col("vec_id") % 9 == 1).select("vec_id", "v")
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    want = [r for r in before if r[0] not in doomed_ids]
    touched = ivf_index_delete(spark, path, doomed)
    store = SnapshotStore(path)
    version = store.current_version()
    raw_before = _rows(spark, path, reader=False)

    class Boom(Exception):
        pass

    def dying_commit(self, *a, **k):
        raise Boom()

    # (a) the rewrite is staged, the commit never happens
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "commit_staged", dying_commit)
        with pytest.raises(Boom):
            apply_ivf_tombstones(spark, path)
    assert store.current_version() == version
    assert _rows(spark, path, reader=False) == raw_before  # not rewritten
    assert _rows(spark, path) == want  # reader still anti-joins
    assert sorted(int(c) for c in store.table_days("tombstones")) == touched

    # (b) crash between the data rename and the manifest write
    def crash_before_flip(self, n):
        self._store.put_atomic(self._manifest_path(n),
                               json.dumps(self._build_manifest(n)))
        raise Boom()

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_finish", crash_before_flip)
        with pytest.raises(Boom):
            apply_ivf_tombstones(spark, path)
    assert SnapshotStore(path).current_version() == version
    assert _rows(spark, path) == want
    assert apply_ivf_tombstones(spark, path) == []  # recovered, drained
    assert SnapshotStore(path).current_version() == version + 1
    assert _rows(spark, path, reader=False) == want
    assert SnapshotStore(path).table_days("tombstones") == []


def test_reader_prunes_probed_cells_with_tombstones(spark, sf_dir, tmp_path):
    """The tombstone anti-join must not cost the reader its partition
    pruning: a clusters= read opens only the probed cells' files on
    BOTH the postings and the tombstone side (pruned in the manifest),
    and the anti-join side is broadcast."""
    import re

    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    touched = ivf_index_delete(spark, path, emb.select("vec_id", "v"))
    probed = touched[:2]
    assert len(probed) == 2 < K
    df = read_ivf_postings(spark, path, clusters=probed)
    scanned = {
        (m.group(1), int(m.group(2)))
        for m in (re.search(r"/(postings|tombstones)/_dp=(\d+)/", f)
                  for f in df.inputFiles())
    }
    assert {t for t, _ in scanned} == {"postings", "tombstones"}
    assert {c for _, c in scanned} == set(probed)  # both scans pruned
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    got = {r["cluster"] for r in df.select("cluster").distinct().collect()}
    assert got <= set(probed)


def test_reappending_tombstoned_id_raises_until_applied(
    spark, sf_dir, tmp_path
):
    """Round-10 review find: appending a vec_id that is currently
    tombstoned would be silently hidden by the reader AND physically
    deleted by the next apply. Both append paths (one-shot + sink)
    must raise a named error; after apply drains the tombstone, the
    same append succeeds and the row is live again."""
    from rolaguard_data_collectors_spark.llm.kmeans import IvfAppendSink

    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    victim = emb.limit(1).select("vec_id", "v")
    vid = victim.collect()[0]["vec_id"]
    ivf_index_delete(spark, path, victim)

    with pytest.raises(ValueError, match="tombstoned"):
        ivf_index_append(spark, path, victim)
    sink = IvfAppendSink(path)
    with pytest.raises(ValueError, match="tombstoned"):
        sink(victim, 7)
    assert 7 not in sink.committed()  # epoch stays uncommitted (staged)

    apply_ivf_tombstones(spark, path)
    sink(victim, 7)  # stream restart replays the STAGED epoch cleanly
    assert 7 in sink.committed()
    assert vid in {v for v, _, _ in _rows(spark, path)}


def test_streaming_delete_sink_exactly_once_and_crash_replay(
    spark, sf_dir, tmp_path, monkeypatch
):
    """IvfDeleteSink: a replayed committed epoch adds no duplicate
    sidecar dirs; a crash mid-commit replays to the same tombstone set;
    its epochs are a separate direction from the append sink's;
    readers and apply see exactly the streamed deletes."""
    from rolaguard_data_collectors_spark.llm.kmeans import IvfDeleteSink

    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    before = _rows(spark, path)
    doomed = emb.where(F.col("vec_id") % 9 == 1).select("vec_id", "v")
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    want = [r for r in before if r[0] not in doomed_ids]
    store = SnapshotStore(path)

    sink = IvfDeleteSink(path)
    sink(doomed, 0)
    assert 0 in sink.committed() and sink.committed()[0]
    sidecar0 = store.manifest()["tables"]["tombstones"]
    sink(doomed, 0)  # restart replay: committed -> no new version
    assert store.manifest()["tables"]["tombstones"] == sidecar0
    assert _rows(spark, path) == want

    # crash mid-commit on the NEXT epoch: data renamed in, no manifest
    class Boom(Exception):
        pass

    def dying_finish(self, n):
        raise Boom()

    doomed2 = emb.where(F.col("vec_id") % 9 == 4).select("vec_id", "v")
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_finish", dying_finish)
        with pytest.raises(Boom):
            sink(doomed2, 1)
    assert 1 not in sink.committed()
    sink(doomed2, 1)  # replay recovers the pending commit
    assert 1 in sink.committed()
    doomed2_ids = {r["vec_id"] for r in doomed2.collect()}
    want2 = [r for r in before if r[0] not in doomed_ids | doomed2_ids]
    assert _rows(spark, path) == want2
    # the append sink's feed is untouched by delete epochs
    assert 1 not in IvfAppendSink(path).committed()
    applied = apply_ivf_tombstones(spark, path)
    assert applied
    assert _rows(spark, path, reader=False) == want2


def test_delete_sink_interop_with_append_sink(spark, sf_dir, tmp_path):
    """A delete interleaved between exactly-once append epochs: the
    appended rows survive, the deleted rows do not, and the lease
    serializes everything (no torn state)."""
    path = str(tmp_path / "ivf")
    emb = _build(spark, sf_dir, path)
    sink = IvfAppendSink(path)
    b0 = emb.limit(10).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"), "v"
    )
    sink(b0, 0)
    ivf_index_delete(spark, path, b0.where(F.col("vec_id") % 2 == 0))
    sink(b0, 0)  # replay: must not resurrect rows or double-append
    got = {v for v, _, _ in _rows(spark, path)}
    b0_ids = {r["vec_id"] for r in b0.collect()}
    assert {i for i in b0_ids if i % 2 != 0} <= got
    assert not ({i for i in b0_ids if i % 2 == 0} & got)
