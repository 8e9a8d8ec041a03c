"""Default-CI maintenance smoke (VERDICT r11 item 7): a bounded
cross-family pass over the three snapshot-layout artifact families —
cascade (append/retract), IVF index (append/delete/apply-tombstones),
near-dup ledger (append/retract) — each crossing ONE vacuum boundary
under the lease, so the lease/vacuum interplay can't regress silently
between opt-in soak runs (tests/test_maintenance_soak.py holds the
multi-hundred-epoch version with full declarative-rebuild equality).

Budget: ~10 epochs total across the families, well under a minute at
the conftest-default SF. Content checks are the cheap exact ones
(postings == live set, grain counts == declarative aggregate, ledger
membership == survivor set); the expensive rebuild-equality stays
opt-in.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

KEEP_LAST = 2


def _bounded(path: str) -> None:
    mroot = os.path.join(path, "_manifests")
    droot = os.path.join(path, "data")
    manifests = [f for f in os.listdir(mroot) if f.startswith("v")]
    tmps = [f for f in os.listdir(mroot) if f.endswith(".tmp")]
    data_vs = [d for d in os.listdir(droot) if d.startswith("v")]
    scratch = [d for d in os.listdir(path)
               if d.startswith("_stage") or d == "_epochs"]
    assert len(manifests) <= KEEP_LAST, manifests
    assert tmps == [], tmps
    # data version dirs are NOT bounded by keep_last alone: a retained
    # manifest keeps pointing at OLD dirs for partitions the later
    # commits never touched (replace-mode commits are O(touched)).
    # The smoke's handful of epochs commits <= ~6 versions per family;
    # a leak (vacuum never reclaiming) would blow past that.
    assert len(data_vs) <= 8, data_vs
    assert scratch == [], scratch
    assert not os.path.exists(os.path.join(path, "_LOCK")), "lease leaked"


def test_cross_family_maintenance_smoke(spark, sf_dir, tmp_path):
    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.llm.components import (
        ledger_append,
        ledger_retract,
        persist_near_dup_ledger,
        read_ledger_labels,
    )
    from rolaguard_data_collectors_spark.llm.kmeans import (
        apply_ivf_tombstones,
        ivf_index_append,
        ivf_index_delete,
        persist_ivf_index,
        read_ivf_postings,
    )
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_append,
        cascade_retract,
        persist_cascade,
        read_grain,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events")

    # --- cascade: append, retract, append; vacuum between -----------------
    base = ev.where(F.col("event_id") % 4 == 0)
    extra_a = ev.where(F.col("event_id") % 4 == 1)
    extra_b = ev.where(F.col("event_id") % 4 == 2)
    base_dir = str(tmp_path / "cascade_base")
    os.makedirs(base_dir)
    base.toPandas().to_parquet(
        os.path.join(base_dir, "events.parquet"), index=False
    )
    cpath = str(tmp_path / "cascade")
    persist_cascade(spark, base_dir, cpath)
    cstore = SnapshotStore(cpath)
    cascade_append(spark, cpath, extra_a)
    cstore.vacuum(keep_last=KEEP_LAST)  # the vacuum boundary
    cascade_retract(spark, cpath, extra_a)
    cascade_append(spark, cpath, extra_b)
    cstore.vacuum(keep_last=KEEP_LAST)
    _bounded(cpath)
    # exact content: minute-grain counts == declarative aggregate over
    # the surviving event set (base + extra_b)
    want = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in base.unionByName(extra_b)
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
    assert got == want, "cascade minute grain drifted across vacuum"

    # --- IVF: append, delete, tombstone-apply; vacuum between -------------
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    ipath = str(tmp_path / "ivf")
    persist_ivf_index(spark, sf_dir, ipath, k=4, iters=1)
    istore = SnapshotStore(ipath)
    live = {r.vec_id for r in emb.select("vec_id").collect()}
    batch = emb.limit(20).select((F.col("vec_id") + 10_000_000).alias("vec_id"), "v")
    ivf_index_append(spark, ipath, batch)
    live |= {r.vec_id + 10_000_000 for r in emb.limit(20).select("vec_id").collect()}
    istore.vacuum(keep_last=KEEP_LAST)  # the vacuum boundary
    doomed = sorted(live)[:15]
    ivf_index_delete(
        spark, ipath,
        spark.createDataFrame([(i,) for i in doomed], "vec_id long"),
    )
    live -= set(doomed)
    apply_ivf_tombstones(spark, ipath)
    istore.vacuum(keep_last=KEEP_LAST)
    _bounded(ipath)
    got_ids = {r.vec_id for r in
               read_ivf_postings(spark, ipath).select("vec_id").collect()}
    assert got_ids == live, (
        f"postings drifted: {len(got_ids - live)} ghosts, "
        f"{len(live - got_ids)} lost"
    )

    # --- ledger: append, retract; vacuum between ---------------------------
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    start, extra = set(ids[::2]), set(ids[1::2][:40])
    start_dir = str(tmp_path / "ledger_start")
    os.makedirs(start_dir)
    docs.where(F.col("doc_id").isin(sorted(start))).toPandas().to_parquet(
        os.path.join(start_dir, "documents.parquet"), index=False
    )
    lpath = str(tmp_path / "ledger")
    persist_near_dup_ledger(spark, start_dir, lpath, n_buckets=4)
    lstore = SnapshotStore(lpath)
    ledger_append(spark, lpath,
                  docs.where(F.col("doc_id").isin(sorted(extra))))
    lstore.vacuum(keep_last=KEEP_LAST)  # the vacuum boundary
    gone = sorted(start)[:30]
    ledger_retract(
        spark, lpath,
        spark.createDataFrame([(i,) for i in gone], "doc_id long"),
    )
    lstore.vacuum(keep_last=KEEP_LAST)
    _bounded(lpath)
    # labels cover docs in near-dup clusters (singletons have no edge
    # and no label row by design), so membership alone can't be
    # asserted — compare the full label map against a fresh
    # declarative build over the survivors (cheap at smoke SF).
    surv = (start | extra) - set(gone)
    truth_dir = str(tmp_path / "ledger_truth_corpus")
    os.makedirs(truth_dir)
    docs.where(F.col("doc_id").isin(sorted(surv))).toPandas().to_parquet(
        os.path.join(truth_dir, "documents.parquet"), index=False
    )
    truth = str(tmp_path / "ledger_truth")
    persist_near_dup_ledger(spark, truth_dir, truth, n_buckets=4)
    got = {r.doc_id: r.cluster_id
           for r in read_ledger_labels(spark, lpath).collect()}
    want = {r.doc_id: r.cluster_id
            for r in read_ledger_labels(spark, truth).collect()}
    assert got == want, "ledger drifted across the vacuum boundary"
