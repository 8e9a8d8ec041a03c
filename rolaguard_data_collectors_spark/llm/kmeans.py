"""K-means (Lloyd) training over the embeddings table and the IVF
top-k search it powers — the iterative-algorithm pattern on Spark.

Shape per iteration: the k x dim centroid matrix is DRIVER data
(k*dim floats — the only thing collected), broadcast into the plan as
literal arrays; assignment is a JVM-side argmin over k squared-distance
expressions (``array_min`` on (dist, cid) structs — lexicographic
struct ordering gives min-dist, min-cid tiebreak, fully
deterministic); the re-estimation is one posexplode + groupBy
(cluster, dim) average — a single shuffle per iteration, map-side
partial aggregation, nothing quadratic. This is the standard
large-scale k-means recipe (same data flow as spark.ml's, kept
explicit and dependency-free).

Everything is deterministic: seeds are the hash-smallest vectors, all
arithmetic is fixed-order within aggregates at fixed partitioning...
floating sums across partitions can reorder, so centroid components
are rounded to 9 decimals after each collect — enough to absorb
reorder noise, fine for cluster geometry. ``ivf_topk`` with
``n_probe=k`` degenerates to exact search: tests pin equality with
the brute-force oracle-checked query.

Iterative algorithms are not expressible as one SQL statement, so this
stays driver-unregistered (like the reference's non-SQL surfaces);
tests/test_kmeans.py is its gate (inertia monotonicity, determinism,
exact-search degeneracy).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..portable_sql import hex32, hex32_spark
from ..tablelock import TableLock


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy, like the quantizer import below: keeps this module free of
    # a module-level dependency on similarity
    from .similarity import finite_embeddings

    return finite_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _assign(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """vec rows + (cluster, sqdist) of the nearest centroid."""
    entries = []
    for cid, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with("v", lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        entries.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*entries))
    return df.select(
        "vec_id", "v",
        best.getField("cid").alias("cluster"),
        best.getField("d").alias("sqdist"),
    )


def seed_codebook(spark: SparkSession, sf_dir: str, k: int = 8) -> list[list[float]]:
    """Deterministic k-vector codebook WITHOUT training: the embeddings
    of the k hash-smallest vec_ids (hex32 of the decimal id — spread
    uniformly by the hash, tie-broken by vec_id). This is exactly
    kmeans_fit's seeding step; unlike trained centroids it is
    SQL-derivable, so operators built on it get fully static DuckDB
    oracles (semantic_seed_cents_cte). The collect is k x dim floats —
    bounded at any corpus scale."""
    df = _emb(spark, sf_dir).where(F.col("v").isNotNull())
    seeds = (
        df.withColumn("_h", F.expr(hex32_spark("cast(vec_id as string)")))
        .orderBy("_h", "vec_id")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in seeds]


def kmeans_fit(spark: SparkSession, sf_dir: str, k: int = 8,
               iters: int = 5) -> tuple[list[list[float]], list[float]]:
    """Lloyd iterations; returns (centroids, inertia history). Seeds =
    embeddings of the k hash-smallest vec_ids (deterministic, spread
    by the uniform hash). Empty clusters keep their previous centroid. NULL embeddings
    are excluded from training (a seed or mean over NULL is
    meaningless; non-finite vectors are already gated at the
    loader)."""
    df = _emb(spark, sf_dir).where(F.col("v").isNotNull())
    centroids = seed_codebook(spark, sf_dir, k)
    history: list[float] = []
    assert centroids, "no non-NULL vectors to train on"
    for _ in range(iters):
        assigned = _assign(df, centroids)
        stats = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        )
        # two actions per iteration over the same assign subplan
        # (re-estimation + inertia); a cluster run would cache assigned
        inertia = assigned.agg(F.sum("sqdist")).collect()[0][0]
        history.append(round(float(inertia), 6))
        rows = stats.collect()
        new_c = [list(c) for c in centroids]  # empty cluster -> keep old
        acc: dict[int, dict[int, tuple[float, int]]] = {}
        for r in rows:
            acc.setdefault(r["cluster"], {})[r["dim"]] = (r["s"], r["n"])
        for cid, dims in acc.items():
            new_c[cid] = [
                round(dims[d][0] / dims[d][1], 9) for d in sorted(dims)
            ]
        centroids = new_c
    return centroids, history


def assign_clusters(spark: SparkSession, sf_dir: str,
                    centroids: list[list[float]]) -> DataFrame:
    """(vec_id, cluster, sqdist) for every vector — the IVF posting
    lists. At scale this is written bucketed by cluster."""
    return _assign(_emb(spark, sf_dir), centroids).drop("v")


TOMBSTONE_SCHEMA = "vec_id long, cluster int"


def _postings_frame(spark: SparkSession, path: str,
                    clusters: "list[int] | None" = None) -> DataFrame:
    """The postings scan at the index's current version: ``clusters``
    prunes the pinned dir list in the manifest before Spark lists a
    file."""
    from ..snapshots import SnapshotStore

    days = None if clusters is None else [str(int(c)) for c in clusters]
    return SnapshotStore(path).read(spark, "postings", days=days)


def _write_cells(df: DataFrame, dest: str) -> None:
    """Stage (vec_id, payload, cluster) rows one dir per cell, under
    the snapshot store's ``_dp=<cell>`` carrier (the files keep the int
    ``cluster`` column)."""
    df.withColumn("_dp", F.col("cluster").cast("string")).write.mode(
        "overwrite"
    ).partitionBy("_dp").parquet(dest)


def persist_ivf_index(spark: SparkSession, sf_dir: str, path: str,
                      k: int = 8, iters: int = 5,
                      quantize: bool = False) -> list[list[float]]:
    """Train and WRITE the IVF index as a lake artifact:

    - ``<path>/centroids.parquet``: the k x dim codebook;
    - a snapshot table (snapshots.py) at ``<path>`` whose ``postings``
      sub-table holds the per-cluster posting lists (vec_id, embedding,
      cluster), one partition per cluster, plus an empty
      ``tombstones`` sub-table for row-level deletes;
    - with ``quantize=True``: postings carry int8-range codes instead
      of float vectors plus ``<path>/scales.parquet`` (the per-dim
      max|x| codebook) — the IVF-PQ-lite shape, 4x fewer bytes per
      probed vector.

    The partitioning IS the index: an n_probe search lists only the
    n_probe cells' directories from the manifest — the reader never
    opens the other k - n_probe partitions (proven in
    tests/test_kmeans.py). Append epochs become ADD-mode commits (no
    whole-cell rewrite), tombstone applies one atomic rewrite+drain
    commit, and probing readers are never disturbed by either. The
    frozen codebook (centroids/scales) stays a plain root file — it
    only changes at retrain, which rebuilds the index wholesale."""
    import json as _json

    from ..snapshots import SnapshotStore

    if SnapshotStore.has_committed_content(path):
        # fail BEFORE any mutation — see persist_cascade: the leaseless
        # scratch rmtree below could otherwise delete a concurrent
        # append's staged epoch mid-commit. An empty version-0 root
        # (crashed init) is safe to re-init.
        raise ValueError(
            f"{path} is already a snapshot IVF index; maintain it "
            "with ivf_index_append/ivf_index_delete"
        )
    centroids = kmeans_fit(spark, sf_dir, k, iters)[0]
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).write.mode("overwrite").parquet(path + "/centroids.parquet")
    assigned = _assign(_emb(spark, sf_dir), centroids)
    if quantize:
        from .similarity import _quant_expr, embedding_scales

        scales = embedding_scales(spark, sf_dir)
        spark.createDataFrame(
            [(scales,)], "scales array<double>"
        ).write.mode("overwrite").parquet(path + "/scales.parquet")
        payload = assigned.select(
            "vec_id", _quant_expr("v", scales).alias("codes"), "cluster"
        )
    else:
        payload = assigned.select("vec_id", "v", "cluster")
    edir = os.path.join(path, "_stage_tmp")
    shutil.rmtree(edir, ignore_errors=True)
    _write_cells(payload, os.path.join(edir, "postings"))
    from pyspark.sql.types import StructType, _parse_datatype_string

    schemas = {
        "postings": payload.schema.json(),
        "tombstones": StructType.fromDDL(TOMBSTONE_SCHEMA).json()
        if hasattr(StructType, "fromDDL")
        else _parse_datatype_string(TOMBSTONE_SCHEMA).json(),
    }
    with open(os.path.join(edir, "_SCHEMAS.json"), "w",
              encoding="utf-8") as fh:
        _json.dump(schemas, fh)
    # create AFTER staging succeeded — a failed build must not leave a
    # poisoned empty snapshot root (see persist_cascade).
    # create_or_resume INSIDE the lease: see persist_near_dup_ledger
    # (two racing first-builders must not both resume the empty v0).
    with TableLock(path, owner="persist_ivf_index"):
        store = SnapshotStore.create_or_resume(path)
        store.commit_staged(edir, op="init")
    return centroids


def ivf_index_append(spark: SparkSession, path: str,
                     new_vectors: DataFrame) -> list[int]:
    """Incremental IVF index maintenance — the lake append that keeps
    a persisted index current without retraining or rewriting it:
    route each new (vec_id, v) row to its nearest PERSISTED centroid
    and commit the routed rows as an ADD-mode version (each touched
    cell's partition gains one new dir; untouched cells keep their
    exact dirs). Returns the touched cluster ids, sorted — the input a
    changed-cells-only sweep (`semantic_dedup_from_index(clusters=...)`,
    tests/test_kmeans.py) runs on next.

    The codebook collect is k x dim floats (bounded at any corpus
    scale); the assignment itself is the same embarrassingly-parallel
    in-row fold every reader of the index uses. Exact duplicates of an
    existing member route to the member's own cell by construction
    (identical vector -> identical nearest centroid), which is what
    makes append + per-cell re-dedup an EXACT incremental SemDeDup.
    A QUANTIZED index appends codes instead: routing still happens on
    the float vector (the centroids are floats), then the PERSISTED
    scales codebook quantizes the payload — appending with the
    build-time scales is the correct incremental behavior (the scales
    are part of the frozen codebook until a retrain, exactly like the
    centroids), so appended codes are bit-identical to what the
    original builder would have produced for the same vectors."""
    from ..snapshots import SnapshotStore

    store = SnapshotStore.open(path, "ivf_index_append")
    # Touched cells collected from the SAME materialization the write
    # will use: stage it so routing can't diverge between the two.
    # Routing runs outside the lease (read-only over the frozen
    # codebook); only the commit holds it.
    assigned = _route_for_index(spark, path, new_vectors).localCheckpoint()
    touched = sorted(
        r["cluster"] for r in assigned.select("cluster").distinct().collect()
    )
    with TableLock(path, owner="ivf_index_append") as lk:
        store.recover()  # a pending DELETE commit's tombstones must be
        # visible to the guard below
        # guard INSIDE the lease (round-10 review find): checked before
        # the lock, a concurrent ivf_index_delete could tombstone one
        # of these ids in the guard-to-lock window and this append
        # would commit a row the reader hides and the next apply
        # physically deletes — the exact silent loss the guard exists
        # to turn into a named error
        _guard_tombstoned_ids(spark, path, assigned)
        if touched:
            edir = os.path.join(path, "_stage_tmp")
            shutil.rmtree(edir, ignore_errors=True)
            _write_cells(assigned, os.path.join(edir, "postings"))
            lk.refresh()  # staged write may have consumed the lease
            store.commit_staged(edir, op="append", mode="add",
                                extra={"cells": touched})
    return touched


def _guard_tombstoned_ids(spark: SparkSession, path: str,
                          assigned: DataFrame) -> None:
    """Appending a vec_id that is CURRENTLY tombstoned would be
    silently wrong twice over: the reader's anti-join hides the new
    row immediately, and the next ``apply_ivf_tombstones`` physically
    deletes it. The index contract is therefore id-reuse-after-apply:
    re-adding a deleted id is fine once its tombstone has been drained,
    and raising here (one broadcast probe of the small sidecar) turns
    the silent suppression into a named, actionable error."""
    tomb = _tombstones(spark, path)
    if tomb is None:
        return
    hits = (
        assigned.select("vec_id")
        .join(F.broadcast(tomb.select("vec_id").distinct()), "vec_id")
        .count()
    )
    if hits:
        raise ValueError(
            f"ivf_index_append: {hits} appended vec_id(s) are currently "
            "tombstoned — the reader would hide them and the next "
            "apply_ivf_tombstones would delete them. Run "
            "apply_ivf_tombstones first (drains the tombstones), then "
            "re-append, or use fresh vec_ids."
        )


def _route_for_index(spark: SparkSession, path: str,
                     new_vectors: DataFrame) -> DataFrame:
    """(vec_id, payload, cluster) rows routed against a persisted
    index's codebook, payload matching the index's posting schema
    (float vector or quantized codes)."""
    quantized = "v" not in _postings_frame(spark, path).columns
    cents = (
        spark.read.parquet(path + "/centroids.parquet")
        .orderBy("cluster")
        .collect()
    )
    centroids = [[float(x) for x in r["centroid"]] for r in cents]
    assigned = _assign(
        new_vectors.select("vec_id", "v").where(F.col("v").isNotNull()),
        centroids,
    )
    if quantized:
        from .similarity import _quant_expr

        scales = [
            float(s)
            for s in spark.read.parquet(path + "/scales.parquet")
            .collect()[0]["scales"]
        ]
        return assigned.select(
            "vec_id", _quant_expr("v", scales).alias("codes"), "cluster"
        )
    return assigned.select("vec_id", "v", "cluster")


class IvfAppendSink:
    """foreachBatch target: EXACTLY-ONCE streaming appends into a
    persisted IVF index. A bare ``ivf_index_append`` is not idempotent
    (replaying a micro-batch duplicates postings), so each epoch runs
    under the table lease as skip/stage/commit
    (cf. CascadeMaintenanceSink):

    1. SKIP if the manifest's ``epoch_high`` for this direction covers
       the epoch (after finishing any crashed commit);
    2. STAGE the routed batch under ``<path>/_epochs/epoch=N/`` with a
       ``_STAGED`` marker recording the touched cells
       (``snapshots.stage_epoch_once``);
    3. COMMIT it as an ADD-mode version carrying the epoch record and
       its cell list in the same atomic flip — the manifests double as
       the changed-cells feed a downstream incremental dedup sweep
       consumes (``committed()``).

    ``IvfDeleteSink`` runs the SAME protocol with the tombstone
    sidecar as the target — the streaming half of the row-level
    delete (class attrs pick the target/direction; ``_route`` picks
    the cell-location step)."""

    TARGET = "postings"
    EPOCH_DIR = "_epochs"
    OWNER = "IvfAppendSink"
    DIRECTION = "append"

    def __init__(self, path: str):
        self.path = path
        self.epoch_root = os.path.join(path, self.EPOCH_DIR)

    def _route(self, batch_df: DataFrame) -> DataFrame:
        return _route_for_index(batch_df.sparkSession, self.path, batch_df)

    def committed(self) -> dict[int, list[int]]:
        """epoch -> touched cluster ids of this direction, read from the
        retained manifests (epoch + extra.cells), written in the same
        atomic flip that published each epoch's data. Vacuumed
        manifests age out of the feed; replay protection does NOT
        depend on this walk (it rides ``epoch_high``)."""
        from ..snapshots import SnapshotStore, SnapshotVacuumedError

        store = SnapshotStore(self.path)
        out: dict[int, list[int]] = {}
        for v in range(store.current_version(), 0, -1):
            try:
                m = store.manifest(v)
            except SnapshotVacuumedError:
                break
            if (m.get("direction") == self.DIRECTION
                    and m.get("epoch") is not None):
                out[int(m["epoch"])] = [
                    int(c) for c in (m.get("extra") or {}).get("cells", [])
                ]
        return out

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..snapshots import SnapshotStore, stage_epoch_once

        epoch = int(epoch_id)
        spark = batch_df.sparkSession
        store = SnapshotStore.open(self.path, self.OWNER)
        # Per-epoch single-writer lease (round-10 verdict item #1):
        # serializes this epoch against every other writer of the
        # index (one-shot appends/deletes, tombstone applies,
        # compaction) so the stale-scratch sweep cannot rmtree another
        # lease-holder's in-flight stage.
        with TableLock(self.path, owner=self.OWNER) as lk:
            store.recover()  # the pending commit may BE this epoch
            # Exactly-once check via epoch_high (carried forward by
            # EVERY commit, immune to vacuum) — committed()'s manifest
            # walk stops at the vacuum horizon, which must only limit
            # the changed-cells feed, never replay protection
            # (round-10 review find: a vacuumed epoch manifest would
            # have let the replay double-append).
            if store.epoch_replay_check(self.DIRECTION, epoch):
                return

            def stage(edir: str) -> str:
                routed = self._route(batch_df).localCheckpoint()
                touched = sorted(
                    r["cluster"]
                    for r in routed.select("cluster").distinct().collect()
                )
                if touched:
                    _write_cells(routed, os.path.join(edir, self.TARGET))
                return "|".join(str(c) for c in touched)

            edir, cells_s = stage_epoch_once(self.epoch_root, epoch, stage)
            staged = os.path.join(edir, self.TARGET)
            if self.TARGET == "postings" and os.path.isdir(staged):
                # id-reuse guard on the STAGED rows (works on replays
                # too, where the routed frame is not recomputed): a
                # tombstoned vec_id must not enter the live postings —
                # raising leaves the epoch staged; after
                # apply_ivf_tombstones drains the sidecar, the stream
                # restart replays this epoch cleanly.
                _guard_tombstoned_ids(spark, self.path,
                                      spark.read.parquet(staged))
            lk.refresh()  # the distributed stage may have consumed the lease
            store.commit_if_staged(
                edir, op=self.DIRECTION, epoch=epoch,
                direction=self.DIRECTION, mode="add",
                extra={"cells": [int(c) for c in cells_s.split("|") if c]},
            )
            shutil.rmtree(edir, ignore_errors=True)  # metadata-only case


def ivf_index_delete(spark: SparkSession, path: str,
                     doomed: DataFrame) -> list[int]:
    """Row-level DELETE for a persisted IVF index (round-10 verdict
    item #2): commit (vec_id, cluster) tombstones into the index's
    ``tombstones`` sub-table — the sidecar every reader anti-joins
    (``read_ivf_postings``) and compaction physically merges
    (``apply_ivf_tombstones``). Removing a vector never rewrites a
    posting file at delete time: O(batch) work, the same lake-delete
    shape as Delta/Iceberg delete files.

    Cell location: if ``doomed`` carries the embedding column ``v``,
    each row routes to its nearest FROZEN centroid — by construction
    the cell ``persist_ivf_index``/``ivf_index_append`` put it in —
    with no postings scan at all. Without ``v``, the ids are located
    by a broadcast semi-join against the postings scan (one pass;
    unavoidable when only ids are known). Ids absent from the index
    are harmless: the join path drops them; the routed path writes a
    tombstone that matches nothing and is drained at the next apply.
    Returns the touched cells, sorted — the changed-cells feed, same
    contract as ``ivf_index_append``. Streaming twin with exactly-once
    epochs: ``IvfDeleteSink``."""
    from ..snapshots import SnapshotStore

    store = SnapshotStore.open(path, "ivf_index_delete")
    located = _locate_cells(spark, path, doomed).localCheckpoint()
    touched = sorted(
        r["cluster"] for r in located.select("cluster").distinct().collect()
    )
    with TableLock(path, owner="ivf_index_delete") as lk:
        store.recover()
        if touched:
            edir = os.path.join(path, "_stage_tmp")
            shutil.rmtree(edir, ignore_errors=True)
            _write_cells(located, os.path.join(edir, "tombstones"))
            lk.refresh()  # staged write may have consumed the lease
            store.commit_staged(edir, op="delete", mode="add",
                                extra={"cells": touched})
    return touched


def _locate_cells(spark: SparkSession, path: str,
                  doomed: DataFrame) -> DataFrame:
    """(vec_id, cluster) for each row of a delete batch: nearest
    frozen centroid when the embedding is supplied, else a broadcast
    semi-join against the postings scan (see ivf_index_delete)."""
    if "v" in doomed.columns:
        cents = (
            spark.read.parquet(path + "/centroids.parquet")
            .orderBy("cluster")
            .collect()
        )
        centroids = [[float(x) for x in r["centroid"]] for r in cents]
        return _assign(
            doomed.select("vec_id", "v").where(F.col("v").isNotNull()),
            centroids,
        ).select("vec_id", "cluster")
    return (
        _postings_frame(spark, path)
        .join(F.broadcast(doomed.select("vec_id").distinct()), "vec_id")
        .select("vec_id", "cluster")
    )


class IvfDeleteSink(IvfAppendSink):
    """foreachBatch target: EXACTLY-ONCE streaming row-level deletes —
    the tombstone-writing twin of ``IvfAppendSink`` on the identical
    skip/stage/commit protocol, targeting the tombstone sidecar
    instead of the postings (duplicate tombstones would even be
    HARMLESS to readers — the anti-join is idempotent — but the epoch
    record keeps replayed epochs from accreting duplicate sidecar
    dirs and keeps the changed-cells feed exact). Shares the table
    lease with the append sink and the maintenance ops. Its epochs
    ride their own direction (``delete``): a delete stream and an
    append stream are independent queries with independent epoch
    counters."""

    TARGET = "tombstones"
    EPOCH_DIR = "_epochs_delete"
    OWNER = "IvfDeleteSink"
    DIRECTION = "delete"

    def _route(self, batch_df: DataFrame) -> DataFrame:
        return _locate_cells(batch_df.sparkSession, self.path, batch_df)


def _tombstones(spark: SparkSession, path: str,
                clusters: "list[int] | None" = None) -> DataFrame | None:
    """The tombstone sidecar (pruned to ``clusters`` in the manifest)
    as a frame, or None when it holds no entries."""
    from ..snapshots import SnapshotStore

    store = SnapshotStore(path)
    cells = store.table_days("tombstones")
    if clusters is not None:
        want = {str(int(c)) for c in clusters}
        cells = [c for c in cells if c in want]
    if not cells:
        return None
    return store.read(spark, "tombstones", days=cells)


def read_ivf_postings(spark: SparkSession, path: str,
                      clusters: "list[int] | None" = None) -> DataFrame:
    """THE read path for a maintained index: the postings scan minus
    tombstoned rows. ``clusters`` prunes BOTH scans to the probed
    cells in the manifest; the anti-join side is the tombstone list —
    small by the lake contract (compaction drains it) — and broadcast,
    so reads cost one broadcast-hash anti-join over the pruned
    postings, never a shuffle."""
    posts = _postings_frame(spark, path, clusters=clusters)
    tomb = _tombstones(spark, path, clusters=clusters)
    if tomb is not None:
        posts = posts.join(
            F.broadcast(tomb.select("vec_id")), "vec_id", "left_anti"
        )
    return posts


def apply_ivf_tombstones(spark: SparkSession, path: str,
                         target_files: int = 1) -> list[int]:
    """Physically drop tombstoned rows — the compaction half of the
    delete: stage the anti-joined rewrite (coalesced to
    ``target_files``) of every tombstoned cell, then commit ONE version
    that replaces those postings cells AND drops their tombstone
    entries — the rewrite and the sidecar drain are ATOMIC, and probing
    readers pinned on the previous version keep their exact files
    until vacuum. Untouched cells keep their exact dirs. A cell whose
    rewrite empties entirely is dropped from the postings table rather
    than committed as a fileless dir. Returns the rewritten cells,
    sorted. Runs under the index's single-writer lease, so a live
    IvfAppendSink epoch can never land between the stage-read and the
    commit; a crash before the commit leaves index and tombstones
    untouched (a delete is never lost by crashing compaction)."""
    import json as _json

    from ..snapshots import SnapshotStore

    store = SnapshotStore.open(path, "apply_ivf_tombstones")
    with TableLock(path, owner="apply_ivf_tombstones") as lk:
        store.recover()
        cells = sorted(int(c) for c in store.table_days("tombstones"))
        if not cells:
            return []
        edir = os.path.join(path, "_stage_tmp")
        shutil.rmtree(edir, ignore_errors=True)
        drops: dict[str, list[str]] = {
            "tombstones": [str(c) for c in cells]
        }
        post_days = set(store.table_days("postings"))
        emptied: list[str] = []
        for c in cells:
            if str(c) not in post_days:
                continue  # ghost deletes of ids routed to an empty cell
            tomb = store.read(
                spark, "tombstones", days=[str(c)]
            ).select("vec_id")
            dest = os.path.join(edir, "postings", f"_dp={c}")
            store.read(spark, "postings", days=[str(c)]).join(
                F.broadcast(tomb), "vec_id", "left_anti"
            ).coalesce(target_files).write.mode("overwrite").parquet(dest)
            if not any(
                f.startswith("part-") and f.endswith(".parquet")
                for f in os.listdir(dest)
            ):
                shutil.rmtree(dest)  # every row tombstoned: drop the cell
                emptied.append(str(c))
        if emptied:
            drops["postings"] = emptied
        os.makedirs(edir, exist_ok=True)
        with open(os.path.join(edir, "_DROPPED"), "w",
                  encoding="utf-8") as fh:
            _json.dump(drops, fh)
        # the per-cell distributed rewrites above may have consumed
        # the lease — re-extend (raises on lost exclusivity) before
        # the mutating commit, same as SnapshotStore.compact
        lk.refresh()
        store.commit_staged(edir, op="apply_tombstones")
    return cells


def ivf_index_topk(spark: SparkSession, path: str, query: list[float],
                   top_k: int = 10, n_probe: int = 2,
                   exclude_vec_id: int | None = None) -> DataFrame:
    """Search a persisted IVF index: rank the codebook driver-side
    (k x dim floats), then scan ONLY the n_probe nearest posting
    partitions (pruned in the index manifest). Float postings score
    exact cosine (matches ``ivf_topk`` over the same centroids
    exactly); quantized postings score the rescaled integer dot
    (matches ``similarity.cosine_topk_int8``'s ranking at
    n_probe=k)."""
    import math
    import os

    cent = {
        r["cluster"]: [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(path + "/centroids.parquet").collect()
    }

    def sq(c):
        return sum((a - b) * (a - b) for a, b in zip(c, query))

    probe = sorted(cent, key=lambda i: (sq(cent[i]), i))[:n_probe]
    posts = read_ivf_postings(spark, path, clusters=probe)
    if exclude_vec_id is not None:
        posts = posts.filter(F.col("vec_id") != exclude_vec_id)
    if os.path.exists(path + "/scales.parquet"):
        scales = [
            float(s)
            for s in spark.read.parquet(path + "/scales.parquet")
            .collect()[0]["scales"]
        ]
        q_codes = [
            0 if s == 0 else math.copysign(
                math.floor(abs(x) / s * 127 + 0.5), x
            )
            for x, s in zip(query, scales)
        ]
        arr = ", ".join(f"{(s / 127.0) * (s / 127.0)!r}D" for s in scales)
        qarr = ", ".join(str(int(c)) for c in q_codes)
        dot = F.expr(
            f"aggregate(zip_with(zip_with(codes, array({qarr}),"
            " (x, y) -> CAST(x AS DOUBLE) * y),"
            f" array({arr}), (p, w) -> p * w), 0D, (acc, v) -> acc + v)"
        )
        score = F.round(dot, 6).alias("cosine")
    else:
        qlit = F.array(*[F.lit(float(x)) for x in query])
        dot = F.aggregate(F.zip_with("v", qlit, lambda x, y: x * y),
                          F.lit(0.0), lambda a, z: a + z)
        nrm = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x),
                                 F.lit(0.0), lambda a, z: a + z))
        qn = math.sqrt(sum(x * x for x in query))
        score = F.round(dot / (nrm * F.lit(qn)), 6).alias("cosine")
    return (
        posts.select("vec_id", "cluster", score)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(top_k)
    )


def ivf_topk(spark: SparkSession, sf_dir: str, centroids: list[list[float]],
             query_vec_id: int = 0, top_k: int = 10,
             n_probe: int = 2) -> DataFrame:
    """IVF search with learned centroids: probe the ``n_probe``
    clusters nearest to the query, exact cosine inside them. With
    n_probe = k this is exactly brute force (tests pin it)."""
    df = _emb(spark, sf_dir)
    q = df.filter(F.col("vec_id") == query_vec_id).collect()[0]["v"]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    # driver-side probe selection: distances of k centroids to q
    import math

    def sq(c):
        return sum((a - b) * (a - b) for a, b in zip(c, q))

    probe = sorted(range(len(centroids)), key=lambda i: (sq(centroids[i]), i))
    probe = set(probe[:n_probe])
    assigned = _assign(df, centroids)
    dot = F.aggregate(F.zip_with("v", qlit, lambda x, y: x * y),
                      F.lit(0.0), lambda a, z: a + z)
    nrm = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x),
                             F.lit(0.0), lambda a, z: a + z))
    qn = math.sqrt(sum(x * x for x in q))
    cos = F.round(dot / (nrm * F.lit(qn)), 6)
    return (
        assigned.filter(F.col("cluster").isin(list(probe)))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "cluster", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(top_k)
    )


# Within-cluster pair work is O(sum c_i^2); the cap bounds the largest
# block a single task can see REGARDLESS of codebook skew. 1024 keeps
# the worst shard at ~0.5M pairs (x dim flops) — comfortably one task —
# while at the test SFs (<= 2000 vectors / 8 clusters) no cluster
# reaches it, so the default result equals uncapped SemDeDup.
DEFAULT_CLUSTER_CAP = 1024


def semantic_dedup(spark: SparkSession, sf_dir: str,
                   centroids: list[list[float]],
                   threshold: float = 0.4,
                   cluster_cap: int = DEFAULT_CLUSTER_CAP) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
    clusters as candidate blocks, exact pairwise cosine WITHIN each
    cluster only, drop every vector that has a smaller-vec_id
    cluster-mate with round(cosine, 6) >= threshold. Returns the
    surviving (vec_id, cluster) rows.

    Scale shape: the only join is the within-cluster self-join — the
    all-pairs O(N^2) never happens; at 100 TB the assignment IS the
    bucketed IVF posting layout (persist_ivf_index), so the self-join
    is partition-local with zero shuffle. Clusters larger than
    ``cluster_cap`` are sub-sharded by a secondary hash of vec_id
    (ceil(size/cap) shards), so a skewed or badly-trained codebook —
    exactly the near-duplicate-heavy corpus SemDeDup targets — can
    never make one task quadratic: per-shard pair count stays
    O(cap^2) and total pair work O(N * cap). The trade — duplicates
    split across shards of an over-cap cluster are not detected — is
    the standard blocking trade every bounded-block dedup in this
    repo makes (ngram buckets, perceptual-dedup band re-keying). Zero-norm vectors can't be dropped (cosine
    undefined -> NULL -> predicate false) but still block as cluster
    members; the deterministic keep-smallest rule is the same
    survivor convention as dedup_exact.

    Oracled per codebook by semantic_dedup_oracle_sql (the centroids
    render as literals, like quantize_oracle_sql's scales), which
    mirrors the shard arithmetic exactly. NULL embeddings are
    excluded explicitly (a vector with no embedding has no cluster;
    _assign would otherwise give it the NULL-distance-first cluster
    0)."""
    assigned = _assign(
        _emb(spark, sf_dir).where(F.col("v").isNotNull()), centroids
    )
    return _semantic_survivors(assigned, threshold, cluster_cap)


def _semantic_survivors(assigned: DataFrame, threshold: float,
                        cluster_cap: int, stage: bool = True) -> DataFrame:
    """Shared SemDeDup tail: candidate pairs -> cosine drop set ->
    keep-smallest anti-join. ``assigned`` must carry (vec_id, cluster,
    v).

    With ``stage=True`` the assignment is staged ONCE (lazy
    localCheckpoint, the staged-table discipline of tfidf/banded/
    approx_aggregates): three consumers read it — the per-cluster size
    aggregate, the pair-kernel input, and the survivor anti-join — and
    each used to re-evaluate the full scan + interpreted per-centroid
    distance folds (measured at sf0.1: the pair stage's input frame
    alone cost 1.11 s of which ~0.85 s was duplicate assignment
    evaluation; staged, the whole operator runs ~0.7 s). At 100 TB the
    assignment is the persisted IVF posting layout and this checkpoint
    is the same "materialize the assignment before fan-out" step
    persist_ivf_index performs. semantic_dedup_from_index passes
    stage=False: its assignment IS that persisted layout already — a
    cheap manifest-pruned parquet scan whose re-read costs less than a
    checkpoint write."""
    if stage:
        assigned = assigned.localCheckpoint(eager=False)
    pairs = _semantic_candidate_pairs(assigned, cluster_cap)
    cos = F.round(F.col("_dot") / (F.col("a_n") * F.col("b_n")), 6)
    drops = (
        pairs.where((F.col("a_n") > 0) & (F.col("b_n") > 0)
                    & (cos >= F.lit(threshold)))
        .select(F.col("b_vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(drops, "vec_id", "left_anti").select(
        "vec_id", "cluster"
    )


def semantic_dedup_from_index(spark: SparkSession, path: str,
                              threshold: float = 0.4,
                              cluster_cap: int = DEFAULT_CLUSTER_CAP,
                              clusters: list[int] | None = None) -> DataFrame:
    """SemDeDup over a PERSISTED IVF index (persist_ivf_index, float
    postings) — the 100 TB shape the in-memory variant's docstring
    promises: the k-means assignment already EXISTS as the
    per-cell postings partitions, so the dedup never recomputes it,
    and ``clusters`` restricts the run to a subset of coarse cells as
    a manifest-pruned scan (the reader never opens the other cells'
    directories — proven in tests/test_kmeans.py).
    Because blocking is cluster-local, a per-cell run returns exactly
    the full run's rows for those cells, which is what makes
    cell-at-a-time (or changed-cells-only) dedup sweeps over a lake
    index correct. Quantized postings carry int8 codes, not vectors —
    exact-cosine dedup needs the float layout."""
    posts = read_ivf_postings(spark, path, clusters=clusters)
    if "v" not in posts.columns:
        raise ValueError(
            "semantic_dedup_from_index needs float postings (persist_"
            "ivf_index(quantize=False)); quantized postings carry codes"
        )
    assigned = posts.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "v"
    )
    return _semantic_survivors(assigned, threshold, cluster_cap,
                               stage=False)


_PAIR_SCHEMA = (
    "a_vec_id long, b_vec_id long, a_n double, b_n double, _dot double"
)


def _pair_block_kernel(pdf):
    """Per-(cluster, shard) pair enumeration + cosine ingredients in
    ONE numpy pass (optimization round 13). Replaces the former salted
    self-join whose per-pair dot product ran as an INTERPRETED Catalyst
    fold (zip_with + aggregate get no codegen and no CSE): at sf0.1 the
    252k-pair stage measured 1.93 s salted across 32 tasks; this kernel
    does the same arithmetic in ~milliseconds and ships each vector
    over the exchange ONCE (the salted form replicated the b-side
    fan_out times).

    Bit-exactness contract (the oracle compares round(cos, 6) at a
    threshold): every float op replicates the old fold's IEEE-754
    operation sequence exactly —

    * norm: ``sqrt(aggregate(transform(v, x*x), 0.0, acc+z))`` is a
      LEFT-TO-RIGHT ordered sum of squares; the ``acc = acc + V[:,j]**2``
      dim loop performs the identical addition sequence per vector
      (never ``np.sum``, whose pairwise summation rounds differently).
    * dot: ``aggregate(zip_with(va, vb, x*y), 0.0, acc+z)`` is the same
      ordered fold over per-dim products; the outer-product dim loop
      reproduces it per pair.

    numpy float64 ops and JVM doubles are both correctly-rounded IEEE
    binary64, so equal operation sequences give equal bits.
    Pairs across DIFFERENT vector lengths keep the old zip_with
    semantics: the shorter side null-pads, any null product nulls the
    whole fold, so ``_dot`` is NULL (cosine NULL -> never drops).
    Per-block memory is O(block^2) doubles — the same bound as the
    pair frame the join emitted — capped by ``cluster_cap``."""
    import numpy as np
    import pandas as pd

    def _empty():
        z = np.empty(0)
        zi = np.empty(0, dtype=np.int64)
        return pd.DataFrame({"a_vec_id": zi, "b_vec_id": zi,
                             "a_n": z, "b_n": z, "_dot": z})

    n = len(pdf)
    if n < 2:
        return _empty()
    order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
    ids = pdf["vec_id"].to_numpy()[order]
    vs = [np.asarray(x, dtype=np.float64)
          for x in pdf["v"].to_numpy()[order]]
    dims = {v.shape[0] for v in vs}
    iu, ju = np.triu_indices(n, k=1)
    strict = ids[iu] < ids[ju]  # the join's a.vec_id < b.vec_id, exactly
    iu, ju = iu[strict], ju[strict]

    def _norms(V):
        acc = np.zeros(V.shape[0])
        for j in range(V.shape[1]):
            c = V[:, j]
            acc = acc + c * c
        return np.sqrt(acc)

    if len(dims) == 1:
        V = np.stack(vs)
        norms = _norms(V)
        G = np.zeros((n, n))
        for j in range(V.shape[1]):
            c = V[:, j]
            G = G + c[:, None] * c[None, :]
        dot = G[iu, ju]
    else:
        # Ragged fallback (never taken by a single-model corpus):
        # vectorize within each dim class; cross-class pairs carry the
        # zip_with null-pad semantics (_dot NULL).
        lens = np.array([v.shape[0] for v in vs])
        norms = np.zeros(n)
        G = np.full((n, n), np.nan)
        for d in sorted(dims):
            sel = np.flatnonzero(lens == d)
            V = np.stack([vs[i] for i in sel])
            norms[sel] = _norms(V)
            sub = np.zeros((len(sel), len(sel)))
            for j in range(d):
                c = V[:, j]
                sub = sub + c[:, None] * c[None, :]
            G[np.ix_(sel, sel)] = sub
        dot = pd.array(G[iu, ju])
        dot[np.isnan(G[iu, ju])] = None
    return pd.DataFrame({
        "a_vec_id": ids[iu], "b_vec_id": ids[ju],
        "a_n": norms[iu], "b_n": norms[ju], "_dot": dot,
    })


def _semantic_candidate_pairs(assigned: DataFrame,
                              cluster_cap: int) -> DataFrame:
    """The within-(cluster, shard) candidate pair frame — SemDeDup's
    only exchange, exposed so tests/test_scale.py can count exactly the
    pairs a run evaluates. Returns (a_vec_id, b_vec_id, a_n, b_n,
    _dot) with a_vec_id < b_vec_id.

    Round-13 shape: vectors shuffle ONCE, grouped by (cluster, shard),
    and a numpy kernel (_pair_block_kernel) enumerates the block's
    pairs and their cosine ingredients with bit-identical arithmetic to
    the former interpreted per-pair fold (measured at sf0.1: pair stage
    1.93 s -> ~0.3 s, flagship clean_corpus_semantic 2.7 -> ~1.4 s).
    This is also the better 100 TB shape: the previous salted self-join
    replicated every vector fan_out times across the exchange; here
    each vector crosses once and the quadratic pair frame is BORN
    inside the task that consumes it."""
    # Per-cluster sizes: k rows — always broadcast. shard = portable
    # hash of vec_id mod ceil(size/cap); 1 for every under-cap cluster,
    # so the cap is a no-op until skew actually appears.
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csz"))
    n_shards = F.ceil(F.col("_csz") / F.lit(float(cluster_cap)))
    shard = F.expr(hex32_spark("cast(vec_id as string)")) % n_shards
    rows = (
        assigned.join(F.broadcast(sizes), "cluster")
        .select("vec_id", "cluster", "v", shard.alias("_shard"))
    )
    return rows.groupBy("cluster", "_shard").applyInPandas(
        _pair_block_kernel, schema=_PAIR_SCHEMA
    )


def semantic_seed_cents_cte(k: int) -> str:
    """``cents(cid, dim, c)`` CTE derived from the data itself: the
    embeddings of the k hash-smallest vec_ids, cid = rank order —
    byte-identical to seed_codebook's collect (raw stored doubles, no
    arithmetic), which is what makes a seed-codebook SemDeDup fully
    static SQL. Expects the ``v`` (vec_id, dim, x) CTE in scope."""
    h = hex32("CAST(vec_id AS VARCHAR)")
    return f"""seedrank AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY {h}, vec_id) - 1 AS INTEGER) AS cid
  FROM embeddings WHERE embedding IS NOT NULL
),
cents AS (
  SELECT s.cid, v.dim, v.x AS c
  FROM seedrank s JOIN v USING (vec_id) WHERE s.cid < {k}
)"""


def _semantic_oracle_body(cents_cte: str, threshold: float,
                          cluster_cap: int) -> str:
    """Shared SemDeDup oracle: assignment = argmin squared distance
    (ties -> smaller cluster id, mirroring _assign's array_min struct
    order), the shard arithmetic of semantic_dedup (hex32(vec_id) mod
    ceil(size/cap)), then the identical within-(cluster, shard)
    keep-smallest rule. ``cents_cte`` must define cents(cid, dim, c)
    with 1-based dims and may reference the ``v`` CTE."""
    from .similarity import FINITE_EMB_CTE

    shard_h = hex32("CAST(b.vec_id AS VARCHAR)")
    return f"""
WITH {FINITE_EMB_CTE},
v AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS dim,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings WHERE embedding IS NOT NULL
),
{cents_cte},
d AS (
  SELECT v.vec_id, cents.cid, sum((v.x - cents.c) * (v.x - cents.c)) AS d
  FROM v JOIN cents USING (dim) GROUP BY v.vec_id, cents.cid
),
best AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM d) WHERE rn = 1
),
sizes AS (
  SELECT cluster, count(*) AS csz FROM best GROUP BY cluster
),
sharded AS (
  SELECT b.vec_id, b.cluster,
         {shard_h} % CAST(ceil(s.csz / CAST({cluster_cap} AS DOUBLE)) AS BIGINT)
           AS shard
  FROM best b JOIN sizes s USING (cluster)
),
norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS n FROM v GROUP BY vec_id
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM sharded a JOIN sharded b
    ON a.cluster = b.cluster AND a.shard = b.shard AND a.vec_id < b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id AND vb.dim = va.dim
  WHERE na.n > 0 AND nb.n > 0
  GROUP BY a.vec_id, b.vec_id, na.n, nb.n
  HAVING round(sum(va.x * vb.x) / (na.n * nb.n), 6) >= {threshold!r}
)
SELECT vec_id, cluster FROM best
WHERE vec_id NOT IN (SELECT vec_id FROM drops)
"""


def semantic_dedup_oracle_sql(centroids: list[list[float]],
                              threshold: float = 0.4,
                              cluster_cap: int = DEFAULT_CLUSTER_CAP) -> str:
    """DuckDB twin of semantic_dedup for an explicit (e.g. trained)
    codebook, rendered as literals."""
    cent_rows = ", ".join(
        f"({cid}, {dim + 1}, {x!r})"
        for cid, c in enumerate(centroids)
        for dim, x in enumerate(c)
    )
    return _semantic_oracle_body(
        f"cents(cid, dim, c) AS (VALUES {cent_rows})", threshold, cluster_cap
    )


def semantic_seed_dedup_oracle_sql(k: int = 8, threshold: float = 0.4,
                                   cluster_cap: int = DEFAULT_CLUSTER_CAP) -> str:
    """DuckDB twin of semantic_dedup over seed_codebook(k) — no
    data-dependent literals, so it can register as a driver oracle."""
    return _semantic_oracle_body(semantic_seed_cents_cte(k), threshold,
                                 cluster_cap)
