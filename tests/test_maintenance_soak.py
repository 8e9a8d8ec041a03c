"""Opt-in long-run maintenance soak (VERDICT r10 item 6).

The churn tests prove correctness over seconds; this soak runs
hundreds of maintenance epochs across the three artifact families —
cascade (append/retract/vacuum/expire), IVF index
(append/delete/apply-tombstones/vacuum), near-dup ledger
(append/retract/vacuum) — under the lease, asserting BOUNDED state:
retained-manifest count, data-version dirs, scratch dirs, history
length, root entries. Epoch replay protection is O(1) by construction
(epoch_high rides the manifest), so "commit-log length" is the
manifest count. Each family's end state is also checked against a
fresh declarative build, so drift over long horizons fails loudly.

Run with:  SPARK_GRAFT_SOAK=1 pytest tests/test_maintenance_soak.py -q -s
(epochs via SPARK_GRAFT_SOAK_EPOCHS, default 200 total; measured
steady-state numbers recorded in SURVEY.md §6; ~10-15 min on local[32]).
"""

from __future__ import annotations

import os
import random
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SOAK"),
    reason="multi-hundred-epoch soak is opt-in (SPARK_GRAFT_SOAK=1)",
)

EPOCHS = int(os.environ.get("SPARK_GRAFT_SOAK_EPOCHS", "200"))
KEEP_LAST = 3


def _bounded_state(path: str, store) -> dict:
    """The steady-state resource snapshot every soak asserts on."""
    mroot = os.path.join(path, "_manifests")
    droot = os.path.join(path, "data")
    return {
        "manifests": len([f for f in os.listdir(mroot)
                          if f.startswith("v")]),
        "data_versions": len([d for d in os.listdir(droot)
                              if d.startswith("v")]),
        "history": len(store.history()),
        "scratch": [d for d in os.listdir(path)
                    if d.startswith("_stage") or d == "_epochs"],
        "root_entries": len(os.listdir(path)),
    }


def _assert_bounded(state: dict, label: str) -> None:
    # vacuum(keep_last=KEEP_LAST) retains KEEP_LAST manifests; between
    # vacuums at most vacuum_every more accumulate (we vacuum every 10
    # epochs; bound generously to stay host-noise proof)
    assert state["manifests"] <= KEEP_LAST + 12, (label, state)
    assert state["data_versions"] <= KEEP_LAST + 12, (label, state)
    assert state["history"] <= KEEP_LAST + 12, (label, state)
    assert state["scratch"] == [], (label, state)


def test_cascade_soak(spark, sf_dir, tmp_path):
    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_append,
        cascade_grains,
        cascade_retract,
        persist_cascade,
        read_grain,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    n = max(60, EPOCHS // 2)
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 5 != 0)
    pool_ids = sorted(
        r.event_id for r in
        ev.where(F.col("event_id") % 5 == 0).select("event_id").collect()
    )
    chunks = [pool_ids[i::12] for i in range(12)]  # 12 reusable batches

    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    base.toPandas().to_parquet(os.path.join(base_dir, "events.parquet"),
                               index=False)
    path = str(tmp_path / "cascade")
    persist_cascade(spark, base_dir, path)
    store = SnapshotStore(path)

    rng = random.Random(11)
    present: set[int] = set()
    t0 = time.monotonic()
    for epoch in range(n):
        free = [i for i in range(12) if i not in present]
        if (rng.random() < 0.55 and free) or not present:
            i = rng.choice(free)
            cascade_append(spark, path,
                           ev.where(F.col("event_id").isin(chunks[i])))
            present.add(i)
        else:
            i = rng.choice(sorted(present))
            cascade_retract(spark, path,
                            ev.where(F.col("event_id").isin(chunks[i])))
            present.remove(i)
        if epoch % 10 == 9:
            store.vacuum(keep_last=KEEP_LAST)
            _assert_bounded(_bounded_state(path, store),
                            f"cascade@{epoch}")
    store.vacuum(keep_last=KEEP_LAST)
    dt = time.monotonic() - t0
    state = _bounded_state(path, store)
    _assert_bounded(state, "cascade@end")
    print(f"\ncascade soak: {n} epochs in {dt:.1f}s "
          f"({dt/n*1000:.0f} ms/epoch), end state {state}")

    # end-state equality vs a recompute over the surviving events
    surv_ids = sorted(x for i in present for x in chunks[i])
    truth_dir = str(tmp_path / "truth")
    os.makedirs(truth_dir)
    base.unionByName(ev.where(F.col("event_id").isin(surv_ids))).toPandas(
    ).to_parquet(os.path.join(truth_dir, "events.parquet"), index=False)
    full = cascade_grains(spark, truth_dir)
    for g in ("minute", "hour", "day"):
        got = sorted(
            (str(r["window_start"]), r["event_type"],
             str(r["n_events"]), str(r["_sv"]))
            for r in read_grain(spark, path, g).collect()
        )
        want = sorted(
            (str(r["window_start"]), r["event_type"],
             str(r["n_events"]), str(r["_sv"]))
            for r in full[g].collect()
        )
        assert got == want, f"cascade {g} drifted from the recompute"


def test_ivf_soak(spark, sf_dir, tmp_path):
    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.llm.kmeans import (
        apply_ivf_tombstones,
        ivf_index_append,
        ivf_index_delete,
        persist_ivf_index,
        read_ivf_postings,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    n = max(40, (EPOCHS * 3) // 10)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    ).localCheckpoint()
    base_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    path = str(tmp_path / "ivf")
    persist_ivf_index(spark, sf_dir, path, k=8, iters=1)
    store = SnapshotStore(path)

    rng = random.Random(13)
    live = set(base_ids)
    next_off = 10_000_000
    t0 = time.monotonic()
    for epoch in range(n):
        if rng.random() < 0.55 or len(live) < 50:
            batch = emb.limit(30).select(
                (F.col("vec_id") + next_off).alias("vec_id"), "v"
            )
            ivf_index_append(spark, path, batch)
            live |= {r.vec_id + next_off
                     for r in emb.limit(30).select("vec_id").collect()}
            next_off += 10_000_000
        else:
            doomed_ids = rng.sample(sorted(live), min(20, len(live)))
            ivf_index_delete(
                spark, path,
                spark.createDataFrame([(i,) for i in doomed_ids],
                                      "vec_id long"),
            )
            live -= set(doomed_ids)
        if epoch % 7 == 6:
            apply_ivf_tombstones(spark, path)
        if epoch % 10 == 9:
            store.vacuum(keep_last=KEEP_LAST)
            _assert_bounded(_bounded_state(path, store), f"ivf@{epoch}")
    apply_ivf_tombstones(spark, path)
    store.vacuum(keep_last=KEEP_LAST)
    dt = time.monotonic() - t0
    state = _bounded_state(path, store)
    _assert_bounded(state, "ivf@end")
    print(f"\nivf soak: {n} epochs in {dt:.1f}s "
          f"({dt/n*1000:.0f} ms/epoch), end state {state}")

    got = {r.vec_id for r in
           read_ivf_postings(spark, path).select("vec_id").collect()}
    assert got == live, (
        f"postings drifted: {len(got - live)} ghosts, "
        f"{len(live - got)} lost"
    )


def test_ledger_soak(spark, sf_dir, tmp_path):
    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.llm.components import (
        ledger_append,
        ledger_retract,
        persist_near_dup_ledger,
        read_ledger_labels,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    n = max(20, EPOCHS // 10)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    rng = random.Random(17)
    present = set(rng.sample(all_ids, len(all_ids) // 2))
    absent = set(all_ids) - present

    start_dir = str(tmp_path / "start")
    os.makedirs(start_dir)
    docs.where(F.col("doc_id").isin(sorted(present))).toPandas().to_parquet(
        os.path.join(start_dir, "documents.parquet"), index=False
    )
    path = str(tmp_path / "ledger")
    persist_near_dup_ledger(spark, start_dir, path, n_buckets=8)
    store = SnapshotStore(path)

    t0 = time.monotonic()
    for epoch in range(n):
        if (rng.random() < 0.5 and absent) or not present:
            batch = set(rng.sample(sorted(absent), min(30, len(absent))))
            ledger_append(spark, path,
                          docs.where(F.col("doc_id").isin(sorted(batch))))
            present |= batch
            absent -= batch
        else:
            batch = set(rng.sample(sorted(present), min(30, len(present))))
            ledger_retract(
                spark, path,
                spark.createDataFrame([(i,) for i in sorted(batch)],
                                      "doc_id long"),
            )
            present -= batch
            absent |= batch
        if epoch % 10 == 9:
            store.vacuum(keep_last=KEEP_LAST)
            _assert_bounded(_bounded_state(path, store), f"ledger@{epoch}")
    store.vacuum(keep_last=KEEP_LAST)
    dt = time.monotonic() - t0
    state = _bounded_state(path, store)
    _assert_bounded(state, "ledger@end")
    print(f"\nledger soak: {n} epochs in {dt:.1f}s "
          f"({dt/n*1000:.0f} ms/epoch), end state {state}")

    truth_dir = str(tmp_path / "truth_corpus")
    os.makedirs(truth_dir)
    docs.where(F.col("doc_id").isin(sorted(present))).toPandas().to_parquet(
        os.path.join(truth_dir, "documents.parquet"), index=False
    )
    truth = str(tmp_path / "ledger_truth")
    persist_near_dup_ledger(spark, truth_dir, truth, n_buckets=8)
    got = {r.doc_id: r.cluster_id
           for r in read_ledger_labels(spark, path).collect()}
    want = {r.doc_id: r.cluster_id
            for r in read_ledger_labels(spark, truth).collect()}
    assert got == want, "ledger drifted from declarative build"
