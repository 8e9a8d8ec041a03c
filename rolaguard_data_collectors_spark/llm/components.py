"""Transitive near-dup clustering: connected components over the LSH
candidate graph — the step between pair generation and corpus dedup.

``ngram_jaccard_dedup`` points each doc at its smallest bucket
representative, but transitive chains (A~B in band 0, B~C in band 2)
stay split across two rows with different reps. Corpus-level dedup
needs the CONNECTED COMPONENT: one cluster id per transitively-linked
group, one survivor per cluster.

Scale shape (the part that must survive 100 TB):

- Edges are STAR edges, never pairs: per (band, bucket) every member
  links to the bucket's min doc_id — O(members) edges per bucket where
  all-pairs is O(members²). Same spanning connectivity.
- Labels converge by min-label propagation ("hash-to-min", Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14): each
  round every vertex takes the min label over itself and its
  neighbors, propagated BOTH directions along each edge. Star-shaped
  buckets converge in O(log d) rounds (d = component diameter in
  buckets); real dup clusters are shallow, so 3-5 rounds.
- Per round: one groupBy shuffle over the edge list + one join back —
  both partitioned by vertex id, map-side combine on the min. The
  driver sees only the converged/changed COUNT (one scalar), never
  labels.
- ``localCheckpoint`` each round cuts the lineage: without it the plan
  doubles per iteration and Catalyst analysis time dominates by round
  8 (the classic iterative-DataFrame trap).

tests/test_components.py pins the fixpoint against a driver-side
union-find oracle on the same edges.

Driver registration (round 9): the iterative fixpoint IS
SQL-expressible per fixed iteration count — K chained CTE rounds of
min-label propagation, each one join + one grouped min — and K rounds
equal the converged fixpoint whenever convergence takes <= K rounds
(propagation is monotone and idempotent at the fixpoint, so extra
rounds are the identity). That sidesteps BOTH rejected oracles: the
recursive-CTE transitive closure (round 5: O(sum component^2) rows,
~38 s/run at sf0.1 on the dup-heavy corpus) and a driver-side-only
check. The member/cluster legs ride the ``ngram_jaccard_dedup``
registry slot as a tagged union with the verify leg — the zero-slot
consolidation pattern — with K = ORACLE_ROUNDS sized ~3x the measured
convergence depth (2-3 rounds at sf0.001-0.1; star edges keep
components shallow) and the slack costs only microseconds in DuckDB
because each round's CTE is one join over the tiny edge list.

Reference parity note: the reference engine has no graph surface —
this is part of the LLM-corpus extension (brief: dedup as first-class
components), not a ported operator.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from .dedup import _band_assignments, minhash_signatures


def candidate_edges(spark: SparkSession, sf_dir: str,
                    assign: DataFrame | None = None) -> DataFrame:
    """(src, dst) star edges from the LSH band buckets: every bucket
    member -> the bucket's min doc_id. src > dst always; singleton
    buckets contribute nothing. Deduplicated across bands.
    ``assign``: optional pre-built band assignments (shared-stage
    callers; see ngram_jaccard_dedup)."""
    if assign is None:
        assign = _band_assignments(minhash_signatures(spark, sf_dir))
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return (
        assign.withColumn("dst", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("dst"))
        .select(F.col("doc_id").alias("src"), "dst")
        .distinct()
    )


def _stage_iter(df: DataFrame) -> DataFrame:
    """Lineage cut for the iterative loop. localCheckpoint pins blocks
    to EXECUTOR storage — fine on local[N] and the fastest option, but
    on a real cluster a lost executor makes the truncated lineage
    unrecoverable mid-loop. When the session has a RELIABLE checkpoint
    directory configured (sc.setCheckpointDir to HDFS/object storage —
    the standard iterative-job deployment step), use a true checkpoint
    instead: rounds then survive executor loss. Reliable checkpoints
    are permanent unless cleaned: session.py enables
    spark.cleaner.referenceTracking.cleanCheckpoints so intermediate
    rounds' data is deleted when their RDDs are GC'd (best-effort —
    a retention policy on the checkpoint location is the deployment
    backstop for sessions built elsewhere)."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def connected_components(
    edges: DataFrame, max_iters: int = 20, stats: dict | None = None
) -> DataFrame:
    """Min-label propagation to a fixpoint. Input: (src, dst) edges.
    Output: (doc_id, cluster_id) for every vertex that appears in an
    edge, cluster_id = min doc_id of its component.

    Each round: half-edges in both directions, min neighbor label per
    vertex, take it if smaller. Stops when no label changed (checked
    with ONE aggregate — the only driver-visible value per round).

    Raises ``RuntimeError`` if the loop exhausts ``max_iters`` with
    labels still changing (round-10 ADVICE fix): returning unconverged
    labels silently would let a deeper-than-expected graph masquerade
    as data drift downstream — the failure must name itself."""
    spark = edges.sparkSession
    edges = _stage_iter(edges.select("src", "dst"))
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    labels = _stage_iter(labels)
    half = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if stats is not None:
        stats["rounds"] = 0
    for _ in range(max_iters):
        if stats is not None:
            stats["rounds"] += 1
        # min label among neighbors, per vertex
        neigh = (
            half.join(labels, half.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neigh, labels.doc_id == neigh.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce("nbr_min", F.col("cluster_id")) < F.col("cluster_id"))
                .cast("int")
                .alias("_chg"),
            )
        )
        new_labels = _stage_iter(new_labels)
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: min-label propagation still changing "
            f"after max_iters={max_iters} rounds ({changed} labels moved "
            f"in the last round) — component diameter exceeds the round "
            f"budget; raise max_iters for this corpus"
        )
    return labels


# --- incremental maintenance (round-10 verdict item #4) -------------------
#
# The changed-cells SemDeDup sweep's clustering twin: when a BATCH of
# new documents arrives, only components touching new edges need
# re-propagation. Three primitives make the dedup ledger a maintained
# artifact instead of a per-batch full recompute:
#
#   bucket_mins(assign)            -> the persisted (band, bucket,
#                                     min_doc) anchor table
#   incremental_candidate_edges    -> O(batch) star edges linking the
#                                     new docs into the candidate graph
#   incremental_components         -> fixpoint over the CONTRACTED
#                                     graph only
#   merge_bucket_mins              -> the anchor table's own update
#
# Flow per batch: edges = incremental_candidate_edges(new_assign,
# old_mins); labels = incremental_components(prev_labels, edges);
# mins = merge_bucket_mins(old_mins, new_assign). Equality with the
# full fixpoint over the merged corpus is proven in
# tests/test_components.py (edge SETS differ from a full rebuild —
# star shapes are anchored differently — but per-bucket connectivity
# is identical, and labels depend only on connectivity).


def bucket_mins(assign: DataFrame) -> DataFrame:
    """(band, bucket, min_doc): each LSH bucket's smallest member —
    the anchor table incremental edge generation joins against. One
    map-side-combined groupBy; at 100 TB this persists next to the
    corpus like the IVF codebook."""
    return assign.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("min_doc")
    )


def incremental_candidate_edges(new_assign: DataFrame,
                                old_mins: DataFrame) -> DataFrame:
    """Star edges linking a batch of NEW docs' band assignments into
    the existing candidate graph via the anchor table: each new doc
    links to its bucket's anchor — the bucket's persisted min when the
    bucket already exists, else the smallest NEW doc in it. O(batch)
    edge rows and an equi-join against the anchor table; the OLD
    corpus' assignments are never rescanned. Connectivity per bucket
    equals the full rebuild's star (everything in a bucket shares one
    anchor vertex), which is all the label fixpoint needs."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    anchored = new_assign.join(old_mins, ["band", "bucket"], "left") \
        .withColumn(
            "_anchor",
            F.coalesce(F.col("min_doc"), F.min("doc_id").over(w)),
        )
    return (
        anchored.filter(F.col("doc_id") != F.col("_anchor"))
        .select(
            F.greatest("doc_id", "_anchor").alias("src"),
            F.least("doc_id", "_anchor").alias("dst"),
        )
        .distinct()
    )


def merge_bucket_mins(old_mins: DataFrame,
                      new_assign: DataFrame) -> DataFrame:
    """The anchor table after the batch: per-bucket least of the old
    anchor and the batch's own min. Full-outer on the (band, bucket)
    key — O(batch + touched buckets) out of the join, the untouched
    rows pass through."""
    new_mins = bucket_mins(new_assign).withColumnRenamed(
        "min_doc", "_new_min"
    )
    return old_mins.join(new_mins, ["band", "bucket"], "full").select(
        "band",
        "bucket",
        F.least(
            F.coalesce("min_doc", F.col("_new_min")),
            F.coalesce("_new_min", F.col("min_doc")),
        ).alias("min_doc"),
    )


def incremental_components(prev_labels: DataFrame, new_edges: DataFrame,
                           stats: dict | None = None) -> DataFrame:
    """Merge a batch of new edges into a CONVERGED label table without
    re-propagating untouched components. Each old component contracts
    to its representative — valid because ``cluster_id`` is the
    component's min doc_id, so contraction preserves both connectivity
    and the global min — the fixpoint runs on the contracted graph
    (O(new edges + affected components) per round, never O(corpus)),
    and members of re-labelled components map through their old rep in
    one join. Returns the updated full (doc_id, cluster_id) table;
    proven equal to the full fixpoint over old+new edges in
    tests/test_components.py."""
    lab_src = prev_labels.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("_sl")
    )
    lab_dst = prev_labels.select(
        F.col("doc_id").alias("dst"), F.col("cluster_id").alias("_dl")
    )
    e = new_edges.select("src", "dst")
    contracted = (
        e.join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("_sl", F.col("src")).alias("a"),
            F.coalesce("_dl", F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))  # both ends already co-clustered
        .select(
            F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
        )
        .distinct()
    )
    rep_new = connected_components(contracted, stats=stats)
    # old members ride their rep's new label; untouched reps keep theirs
    upd = (
        prev_labels.join(
            rep_new.select(
                F.col("doc_id").alias("cluster_id"),
                F.col("cluster_id").alias("_new"),
            ),
            "cluster_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("_new", F.col("cluster_id")).alias("cluster_id")
        )
    )
    # endpoints with no previous label (brand-new docs, or old docs that
    # were singleton-bucketed before this batch linked them)
    ends = (
        e.select(F.col("src").alias("doc_id"))
        .union(e.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    fresh = (
        ends.join(prev_labels.select("doc_id"), "doc_id", "left_anti")
        .join(rep_new, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return upd.unionByName(fresh)


# --- the ledger as a maintained lake artifact (round 10) ------------------
#
# persist_near_dup_ledger writes the converged labels and the bucket
# anchors as HASH-BUCKET-PARTITIONED sub-tables of one snapshot table;
# NearDupLedgerSink (and the one-shot ledger_append) then keep both
# current per doc batch with exactly-once stage/marker/commit epochs —
# the clustering twin of IvfAppendSink/CascadeMaintenanceSink.
# Partition choices are the scale design:
#
#   labels/_cb=H(cluster_id)%NB   — members of one component co-locate,
#       so "rewrite the components an epoch re-labels" is a
#       manifest-pruned read + a per-touched-bucket replace,
#       O(affected), never O(ledger).
#   bucket_mins/_bb=H(band,bucket)%NB — same for the anchors an epoch's
#       (band, bucket) keys touch.
#
# One deliberate non-pruned step remains: looking up the EDGE
# ENDPOINTS' current labels probes the label table by doc_id (a
# broadcast semi-join over the scan — shuffle-free, embarrassingly
# parallel, but a full read). A 100 TB deployment that can't afford it
# maintains a doc-keyed projection of the same table (updated by the
# same epochs) the way every cluster-keyed store pairs with a lookup
# index; the write path — the expensive half — is already O(affected).
#
# Deletions: min-label merges are monotone (no algebraic un-merge), so
# retraction re-SOLVES exactly the affected components from the
# persisted per-doc ASSIGNMENTS table (``assign/_ab=H(doc_id)%NB`` —
# the ledger's source of truth, doc-keyed so a retraction reads only
# its docs' buckets). Two structural facts keep that O(affected):
# bucket co-membership implies same component, so every bucket a
# doomed doc shares is fully contained in its component's member set —
# the rebuild subgraph is the affected components' OWN assignment rows
# and nothing else — and members co-locate in the labels table's
# cluster-hash buckets, so reading them is a bucket-pruned scan.
# ``ledger_retract`` / ``NearDupLedgerSink(mode='retract')`` stage the
# post-state of every touched bucket of all three tables (labels,
# anchors, assignments — anchors recomputed as the min over the
# surviving members of each touched (band, bucket)) and commit under
# the lease; re-appending a fully-retracted doc_id is then legal (the
# append/retract round-trip is tested bit-exact). Mutation = retract
# then append.

LEDGER_BUCKETS = 16


def _cb(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _bb(n_buckets: int):
    return F.pmod(F.xxhash64("band", "bucket"), F.lit(n_buckets)).cast("int")


def batch_band_assignments(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(band, bucket, doc_id) LSH assignments for an explicit
    (doc_id, text) batch — same MinHash/banding as the corpus path."""
    from .dedup import _band_assignments, minhash_signatures

    return _band_assignments(minhash_signatures(spark, "", docs=docs))


def persist_near_dup_ledger(spark: SparkSession, sf_dir: str, path: str,
                            n_buckets: int = LEDGER_BUCKETS) -> None:
    """Build the ledger artifact from a corpus: converged labels +
    bucket anchors + the per-doc assignments (the source of truth a
    retraction re-solves from), all hash-bucket-partitioned (see
    module notes), as one snapshot table (snapshots.py): the append /
    retract / sink entry points publish manifest VERSIONS — reader
    snapshot isolation and one ATOMIC commit across all three tables."""
    import json as _json

    from ..snapshots import SnapshotStore
    from ..tablelock import TableLock

    if SnapshotStore.has_committed_content(path):
        # fail BEFORE any mutation — see persist_cascade: a re-build
        # would rewrite _meta.json (n_buckets!) under a live table and
        # rmtree the shared scratch leaselessly. An empty version-0
        # root (crash between create() and the init commit) has
        # nothing committed: re-init is safe and rewrites _meta.json
        # consistently with THIS build.
        raise ValueError(
            f"{path} is already a snapshot ledger; maintain it "
            "with ledger_append/ledger_retract"
        )
    assign = _band_assignments_staged(spark, sf_dir)
    labels = connected_components(candidate_edges(spark, sf_dir, assign=assign))
    edir = os.path.join(path, "_stage_tmp")
    shutil.rmtree(edir, ignore_errors=True)
    _write_staged_bucketed(
        labels.withColumn("_cb", _cb("cluster_id", n_buckets)),
        edir, "labels", "_cb",
    )
    _write_staged_bucketed(
        bucket_mins(assign).withColumn("_bb", _bb(n_buckets)),
        edir, "bucket_mins", "_bb",
    )
    _write_staged_bucketed(
        assign.withColumn("_ab", _cb("doc_id", n_buckets)),
        edir, "assign", "_ab",
    )
    with open(os.path.join(path, "_meta.json"), "w",
              encoding="utf-8") as fh:
        _json.dump({"n_buckets": n_buckets}, fh)
    # create AFTER staging succeeded — a failed build must not leave a
    # poisoned empty snapshot root (see persist_cascade).
    # create_or_resume runs INSIDE the lease (ADVICE r11): two
    # first-builders racing outside it could both see the empty v0
    # root, both resume, and the lock would then merely SERIALIZE two
    # init commits — the loser silently replacing the winner as v2.
    # Under the lease the loser re-reads after the winner's commit and
    # fails loudly on committed content.
    with TableLock(path, owner="persist_near_dup_ledger"):
        store = SnapshotStore.create_or_resume(path)
        store.commit_staged(edir, op="init")


def _band_assignments_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _band_assignments, minhash_signatures

    return _band_assignments(
        minhash_signatures(spark, sf_dir)
    ).localCheckpoint(eager=False)


def _read_bucketed(spark: SparkSession, path: str, table: str,
                   buckets: "list[int] | None" = None) -> DataFrame:
    """Read a ledger table at its current version. ``buckets`` prunes AT
    THE MANIFEST (only those buckets' pinned dirs are listed); a table
    a retraction has fully emptied comes back as a typed empty frame
    from the recorded schema, so downstream joins/appends keep working
    on a drained ledger. Callers keep their ``_cb/_bb/_ab`` isin
    filters as row guards (the bucket columns live in-file)."""
    from ..snapshots import SnapshotStore

    days = None if buckets is None else [str(b) for b in buckets]
    return SnapshotStore(path).read(spark, table, days=days)


def _write_staged_bucketed(df: DataFrame, edir: str, table: str,
                           part_col: str) -> None:
    """One distributed write of a bucket-keyed staged table,
    partitioned by a STRING duplicate ``_dp`` so the files keep the int
    bucket column — manifest reads then need no partition-dir type
    inference — and records the file schema for typed drained-table
    reads."""
    import json as _json

    df.withColumn("_dp", F.col(part_col).cast("string")).write.mode(
        "overwrite"
    ).partitionBy("_dp").parquet(os.path.join(edir, table))
    spath = os.path.join(edir, "_SCHEMAS.json")
    cur: dict = {}
    if os.path.exists(spath):
        with open(spath, encoding="utf-8") as fh:
            cur = _json.load(fh)
    cur[table] = df.schema.json()
    with open(spath, "w", encoding="utf-8") as fh:
        _json.dump(cur, fh)


def read_ledger_labels(spark: SparkSession, path: str) -> DataFrame:
    return _read_bucketed(spark, path, "labels").drop("_cb")


def read_ledger_mins(spark: SparkSession, path: str) -> DataFrame:
    return _read_bucketed(spark, path, "bucket_mins").drop("_bb")


def read_ledger_assign(spark: SparkSession, path: str) -> DataFrame:
    return _read_bucketed(spark, path, "assign").drop("_ab")


def _ledger_meta(path: str) -> int:
    import json as _json

    with open(os.path.join(path, "_meta.json"), encoding="utf-8") as fh:
        return int(_json.load(fh)["n_buckets"])


def _ledger_stage(spark: SparkSession, path: str, batch_docs: DataFrame,
                  edir: str) -> None:
    """Compute the POST-state of every ledger bucket the batch touches,
    into ``edir/<table>/_dp=K``. Work is O(batch + affected components
    + touched buckets) except the one documented endpoint-label probe.
    The caller holds the lease and has finished any crashed commit
    (staging against pre-pending state and committing on top would
    drop the pending version's rows)."""
    nb = _ledger_meta(path)
    new_assign = batch_band_assignments(spark, batch_docs).localCheckpoint()
    if not new_assign.head(1):
        return  # empty/NULL-text batch: nothing staged

    # ---- anchors (bucket_mins) ------------------------------------------
    touched_bb = sorted(
        r["_b"]
        for r in new_assign.select(_bb(nb).alias("_b")).distinct().collect()
    )
    old_mins_t = (
        _read_bucketed(spark, path, "bucket_mins", buckets=touched_bb)
        .where(F.col("_bb").isin(touched_bb))
        .drop("_bb")
        .localCheckpoint()  # read once: the stage below re-reads nothing
    )
    merged_mins = merge_bucket_mins(old_mins_t, new_assign).withColumn(
        "_bb", _bb(nb)
    )
    _write_staged_bucketed(merged_mins, edir, "bucket_mins", "_bb")

    # ---- assignments (the retraction path's source of truth) -------------
    touched_ab = sorted(
        r["_a"]
        for r in new_assign.select(_cb("doc_id", nb).alias("_a"))
        .distinct().collect()
    )
    old_assign_t = (
        _read_bucketed(spark, path, "assign", buckets=touched_ab)
        .where(F.col("_ab").isin(touched_ab))
        .drop("_ab")
    )
    _write_staged_bucketed(
        old_assign_t.unionByName(new_assign.select("band", "bucket", "doc_id"))
        .withColumn("_ab", _cb("doc_id", nb)),
        edir, "assign", "_ab",
    )

    # ---- labels -----------------------------------------------------------
    edges = incremental_candidate_edges(new_assign, old_mins_t).localCheckpoint()
    labels_full = _read_bucketed(spark, path, "labels")
    ends = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    # the documented non-pruned probe: endpoints' current labels
    end_labels = labels_full.join(F.broadcast(ends), "doc_id").select(
        "doc_id", "cluster_id"
    ).localCheckpoint()
    lab_src = end_labels.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("_sl")
    )
    lab_dst = end_labels.select(
        F.col("doc_id").alias("dst"), F.col("cluster_id").alias("_dl")
    )
    contracted = (
        edges.join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("_sl", F.col("src")).alias("a"),
            F.coalesce("_dl", F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
        )
        .distinct()
    )
    rep_new = connected_components(contracted)  # already checkpointed
    moved = rep_new.where(F.col("doc_id") != F.col("cluster_id"))

    # members of components whose REP was re-labelled: cluster-pruned read
    moved_rows = moved.collect()  # bounded: O(affected reps + fresh docs)
    affected_cb = sorted(
        {r["c"] for r in spark.createDataFrame(
            [(x["doc_id"],) for x in moved_rows] or [(0,)], "k long"
        ).select(_cb("k", nb).alias("c")).distinct().collect()}
    ) if moved_rows else []
    relabel = spark.createDataFrame(
        [(x["doc_id"], x["cluster_id"]) for x in moved_rows] or
        [(None, None)], "old_rep long, new_label long"
    ).where(F.col("old_rep").isNotNull())
    changed_members = (
        _read_bucketed(spark, path, "labels", buckets=affected_cb)
        .where(F.col("_cb").isin(affected_cb) if affected_cb else F.lit(False))
        .join(F.broadcast(relabel),
              F.col("cluster_id") == F.col("old_rep"))
        .select("doc_id", F.col("new_label").alias("cluster_id"))
    )
    # endpoints with no prior label: inserts (brand-new docs, or old
    # singleton-bucket docs this batch linked for the first time)
    fresh = (
        ends.join(end_labels.select("doc_id"), "doc_id", "left_anti")
        .join(rep_new, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    changed = changed_members.unionByName(fresh).localCheckpoint()
    if not changed.head(1):
        return  # batch linked nothing new: mins staged above still commit
    touched_cb = sorted(
        {r["c"] for r in changed.select(_cb("cluster_id", nb).alias("c"))
         .distinct().collect()} | set(affected_cb)
    )
    post = (
        _read_bucketed(spark, path, "labels", buckets=touched_cb)
        .where(F.col("_cb").isin(touched_cb))
        .drop("_cb")
        .join(F.broadcast(changed.select("doc_id")), "doc_id", "left_anti")
        .unionByName(changed)
        .withColumn("_cb", _cb("cluster_id", nb))
    )
    _write_staged_bucketed(post, edir, "labels", "_cb")
    # A touched bucket whose rows ALL moved to other buckets gets no
    # staged directory — unless it is dropped, the commit would keep
    # its stale live rows NEXT TO their re-labelled copies (round-10
    # find: duplicate doc_ids; same emptied-partition gap the cascade
    # retraction closes with _DROPPED). Record exactly the emptied
    # buckets.
    _write_dropped(edir, "labels", touched_cb)


def _write_dropped(edir: str, table: str, touched: "list[int]") -> None:
    """Add the touched buckets of ``table`` that ended with NO staged
    directory (every row left them) to the stage's ``_DROPPED``
    ``{table: [keys]}`` list, which the commit drops from the manifest.
    Lives in the scratch, so it survives replays of a staged epoch."""
    import json as _json

    from ..snapshots import STAGE_PART_PREFIX

    tdir = os.path.join(edir, table)
    staged = {
        d[len(STAGE_PART_PREFIX):]
        for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
        if d.startswith(STAGE_PART_PREFIX)
    }
    emptied = sorted(str(k) for k in touched if str(k) not in staged)
    if not emptied:
        return
    os.makedirs(edir, exist_ok=True)
    dpath = os.path.join(edir, "_DROPPED")
    drops: dict = {}
    if os.path.exists(dpath):
        with open(dpath, encoding="utf-8") as fh:
            drops = _json.load(fh)
    drops[table] = emptied
    with open(dpath, "w", encoding="utf-8") as fh:
        _json.dump(drops, fh)


def _ledger_retract_stage(spark: SparkSession, path: str,
                          doomed: DataFrame, edir: str) -> None:
    """Compute the POST-state of every bucket a retraction touches:
    re-solve the affected components from the surviving assignment
    rows, recompute the touched buckets' anchors, drop the doomed
    docs' assignment rows. See the module notes for why each read is
    bucket-pruned (except the one documented label probe); lease and
    recovery as in ``_ledger_stage``."""
    from pyspark.sql import Window

    nb = _ledger_meta(path)
    doomed_ids = doomed.select("doc_id").distinct().localCheckpoint()
    if not doomed_ids.head(1):
        return

    touched_ab = sorted(
        r["_a"]
        for r in doomed_ids.select(_cb("doc_id", nb).alias("_a"))
        .distinct().collect()
    )
    doomed_assign = (
        _read_bucketed(spark, path, "assign", buckets=touched_ab)
        .where(F.col("_ab").isin(touched_ab))
        .drop("_ab")
        .join(F.broadcast(doomed_ids), "doc_id")
        .localCheckpoint()
    )
    # affected components: the documented doc-keyed probe
    doomed_labels = (
        _read_bucketed(spark, path, "labels")
        .join(F.broadcast(doomed_ids), "doc_id")
        .select("cluster_id")
        .distinct()
        .localCheckpoint()
    )
    has_assign = bool(doomed_assign.head(1))
    has_labels = bool(doomed_labels.head(1))
    if not has_assign and not has_labels:
        return  # ids unknown to the ledger: nothing changes

    # ---- labels: re-solve the affected components ------------------------
    if has_labels:
        affected_cb = sorted(
            r["c"]
            for r in doomed_labels.select(_cb("cluster_id", nb).alias("c"))
            .distinct().collect()
        )
        members = (
            _read_bucketed(spark, path, "labels", buckets=affected_cb)
            .where(F.col("_cb").isin(affected_cb))
            .join(F.broadcast(doomed_labels), "cluster_id")
            .select("doc_id")
            .localCheckpoint()
        )
        m_ab = sorted(
            r["a"]
            for r in members.select(_cb("doc_id", nb).alias("a"))
            .distinct().collect()
        )
        # every bucket a member occupies is fully inside its component
        # (co-membership => same component), so this IS the affected
        # components' complete subgraph
        member_assign = (
            _read_bucketed(spark, path, "assign", buckets=m_ab)
            .where(F.col("_ab").isin(m_ab))
            .drop("_ab")
            .join(F.broadcast(members), "doc_id")
        )
        surviving = member_assign.join(
            F.broadcast(doomed_ids), "doc_id", "left_anti"
        ).localCheckpoint()
        w = Window.partitionBy("band", "bucket")
        edges = (
            surviving.withColumn("dst", F.min("doc_id").over(w))
            .filter(F.col("doc_id") != F.col("dst"))
            .select(F.col("doc_id").alias("src"), "dst")
            .distinct()
        )
        new_labels = connected_components(edges).localCheckpoint()
        new_cb = sorted(
            r["c"]
            for r in new_labels.select(_cb("cluster_id", nb).alias("c"))
            .distinct().collect()
        )
        touched_cb = sorted(set(affected_cb) | set(new_cb))
        post = (
            _read_bucketed(spark, path, "labels", buckets=touched_cb)
            .where(F.col("_cb").isin(touched_cb))
            .drop("_cb")
            .join(F.broadcast(members), "doc_id", "left_anti")
            .unionByName(new_labels)
            .withColumn("_cb", _cb("cluster_id", nb))
        )
        _write_staged_bucketed(post, edir, "labels", "_cb")
        _write_dropped(edir, "labels", touched_cb)
    else:
        surviving = None  # only singleton-bucket docs retracted

    # ---- anchors: recompute the buckets the doomed docs occupied ---------
    if has_assign:
        changed_keys = doomed_assign.select("band", "bucket").distinct()
        touched_bb = sorted(
            r["b"]
            for r in changed_keys.select(_bb(nb).alias("b"))
            .distinct().collect()
        )
        if surviving is not None:
            new_mins = (
                surviving.join(F.broadcast(changed_keys), ["band", "bucket"])
                .groupBy("band", "bucket")
                .agg(F.min("doc_id").alias("min_doc"))
            )
        else:
            # doomed docs had no labels => every occupied bucket was a
            # singleton bucket => no survivors in any changed bucket
            new_mins = spark.createDataFrame(
                [], "band int, bucket string, min_doc long"
            )
        mins_post = (
            _read_bucketed(spark, path, "bucket_mins", buckets=touched_bb)
            .where(F.col("_bb").isin(touched_bb))
            .drop("_bb")
            .join(changed_keys, ["band", "bucket"], "left_anti")
            .unionByName(new_mins)
            .withColumn("_bb", _bb(nb))
        )
        _write_staged_bucketed(mins_post, edir, "bucket_mins", "_bb")
        _write_dropped(edir, "bucket_mins", touched_bb)

        # ---- assignments: drop the doomed rows ---------------------------
        assign_post = (
            _read_bucketed(spark, path, "assign", buckets=touched_ab)
            .where(F.col("_ab").isin(touched_ab))
            .drop("_ab")
            .join(F.broadcast(doomed_ids), "doc_id", "left_anti")
            .withColumn("_ab", _cb("doc_id", nb))
        )
        _write_staged_bucketed(assign_post, edir, "assign", "_ab")
        _write_dropped(edir, "assign", touched_ab)


def _ledger_once(spark: SparkSession, path: str, batch: DataFrame,
                 op: str) -> None:
    """The one-shot ledger maintenance behind ``ledger_append`` /
    ``ledger_retract``: stage under the table lease, publish ONE version
    atomic across labels, anchors and assignments."""
    from ..snapshots import SnapshotStore
    from ..tablelock import TableLock

    store = SnapshotStore.open(path, f"ledger_{op}")
    stage = _ledger_retract_stage if op == "retract" else _ledger_stage
    with TableLock(path, owner=f"ledger_{op}") as lk:
        store.recover()
        edir = os.path.join(path, "_stage_tmp")
        shutil.rmtree(edir, ignore_errors=True)
        stage(spark, path, batch, edir)
        lk.refresh()  # the distributed stage may have consumed the lease
        store.commit_if_staged(edir, op=op)
        shutil.rmtree(edir, ignore_errors=True)


def ledger_retract(spark: SparkSession, path: str,
                   doomed: DataFrame) -> None:
    """Row-level DELETE for the near-dup ledger: remove docs (GDPR
    erasure, corpus pruning) by re-solving exactly their components
    from the surviving assignment rows — stage-then-commit under the
    table lease, O(affected components + touched buckets). Retract of
    ids the ledger never saw is a no-op; append(B) after retract(B)
    restores the exact pre-retract state (tests/test_components.py)."""
    _ledger_once(spark, path, doomed, "retract")


def ledger_append(spark: SparkSession, path: str,
                  batch_docs: DataFrame) -> None:
    """One-shot batch merge of new docs into the persisted ledger —
    stage-then-commit under the table lease; incremental labels proven
    equal to the full fixpoint over the merged corpus
    (tests/test_components.py)."""
    _ledger_once(spark, path, batch_docs, "append")


class NearDupLedgerSink:
    """foreachBatch target: EXACTLY-ONCE maintenance of the near-dup
    ledger from a stream of (doc_id, text) batches — the clustering
    twin of CascadeMaintenanceSink, same skip/stage/commit protocol,
    same crash-window contract, same single-writer lease: the epoch
    record rides the manifest's atomic flip. ``mode='retract'`` runs
    the stream as row-level deletes (batches of doc_id rows), with its
    own epoch direction and scratch so the two directions' epoch
    counters never mask each other."""

    def __init__(self, path: str, mode: str = "append"):
        if mode not in ("append", "retract"):
            raise ValueError(f"NearDupLedgerSink mode: {mode!r}")
        self.path = path
        self.mode = mode
        suffix = "_retract" if mode == "retract" else ""
        self.epoch_root = os.path.join(path, "_epochs" + suffix)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..snapshots import SnapshotStore, stage_epoch_once
        from ..tablelock import TableLock

        epoch = int(epoch_id)
        store = SnapshotStore.open(self.path, "NearDupLedgerSink")
        stage = (_ledger_retract_stage if self.mode == "retract"
                 else _ledger_stage)
        with TableLock(self.path, owner="NearDupLedgerSink") as lk:
            # finish a pending commit (possibly THIS epoch's) so the
            # committed check below can catch it
            store.recover()
            if store.epoch_replay_check(self.mode, epoch):
                return
            edir, _ = stage_epoch_once(
                self.epoch_root, epoch,
                lambda d: stage(batch_df.sparkSession, self.path,
                                batch_df, d),
            )
            lk.refresh()  # the distributed stage may have consumed the lease
            store.commit_if_staged(edir, op=self.mode, epoch=epoch,
                                   direction=self.mode)
            shutil.rmtree(edir, ignore_errors=True)  # metadata-only case


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a multi-doc near-dup
    component; cluster_id = the component's min doc_id (its survivor).
    Docs in no candidate bucket are implicitly their own cluster and
    are omitted (at 100 TB you anti-join the drop list, never
    materialize the identity rows)."""
    return connected_components(candidate_edges(spark, sf_dir))


def cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per component: size and survivor — the dedup ledger."""
    return (
        near_dup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .withColumnRenamed("cluster_id", "survivor_doc_id")
    )


# --- driver registration (tagged union with the Jaccard verify leg) ------

# Fixed oracle iteration depth. Valid whenever Spark's fixpoint
# converges in <= ORACLE_ROUNDS rounds (see module docstring);
# tests/test_components.py asserts the actual depth stays under half
# of this at every test SF, and _clusters_within_oracle_depth raises a
# NAMED error at query time if a future corpus outruns it (round-10
# verdict fix: previously the driver would see only a bare hash
# mismatch).
ORACLE_ROUNDS = 10


def _clusters_within_oracle_depth(edges: DataFrame) -> DataFrame:
    """Converged labels, guarded: raise a named error if convergence
    took more propagation rounds than the fixed-K SQL oracle runs —
    the oracle's l{K} would otherwise silently lag the Spark fixpoint
    and the driver compare would report an undiagnosed hash mismatch."""
    stats: dict = {}
    labels = connected_components(edges, stats=stats)
    if stats["rounds"] > ORACLE_ROUNDS:
        raise RuntimeError(
            f"ngram_jaccard_dedup clustering converged in "
            f"{stats['rounds']} rounds but the SQL oracle runs only "
            f"ORACLE_ROUNDS={ORACLE_ROUNDS} — raise ORACLE_ROUNDS (and "
            f"regenerate NGRAM_JACCARD_CLUSTERS_ORACLE) for this corpus"
        )
    return labels


def ngram_jaccard_with_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ngram_jaccard_dedup`` registry slot, round 9: the exact
    Jaccard verify rows PLUS the transitive clustering they feed, in
    one tagged union over (leg, doc_id, rep_id, jaccard, n_docs):

    - leg='verify': (doc_id, rep_id, jaccard) — one verified edge per
      non-representative doc (the dedup drop list), unchanged.
    - leg='member': (doc_id, rep_id=cluster_id) — every doc in a
      multi-doc near-dup component with its component's min doc_id,
      from the min-label-propagation fixpoint.
    - leg='cluster': (doc_id=survivor, n_docs) — one row per
      component: the survivor and the component size.
    """
    from .dedup import ngram_jaccard_dedup

    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    # ONE staged band-assignment subtree feeds BOTH the verify leg and
    # the clustering's edge generation (round-9 review fix: the
    # dominant MinHash/banding cost was paid twice; the oracle already
    # shares it via MATERIALIZED sig/bands CTEs). The fixpoint's edge
    # collect at build time materializes the checkpoint; the verify
    # leg then reuses it at query materialization.
    assign = _band_assignments(
        minhash_signatures(spark, sf_dir)
    ).localCheckpoint(eager=False)
    verify = ngram_jaccard_dedup(spark, sf_dir, assign=assign).select(
        F.lit("verify").alias("leg"),
        "doc_id",
        "rep_id",
        "jaccard",
        null_l.alias("n_docs"),
    )
    # near_dup_clusters' final frame is already localCheckpoint-ed by
    # the fixpoint loop, so the member and cluster legs share one
    # materialization.
    labels = _clusters_within_oracle_depth(
        candidate_edges(spark, sf_dir, assign=assign)
    )
    member = labels.select(
        F.lit("member").alias("leg"),
        "doc_id",
        F.col("cluster_id").alias("rep_id"),
        null_d.alias("jaccard"),
        null_l.alias("n_docs"),
    )
    clusters = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("cluster").alias("leg"),
            F.col("cluster_id").alias("doc_id"),
            null_l.alias("rep_id"),
            null_d.alias("jaccard"),
            "n_docs",
        )
    )
    return verify.unionByName(member).unionByName(clusters)


def _cluster_rounds_sql(k_rounds: int) -> str:
    """K chained min-label-propagation rounds as CTEs l1..lK over
    ``half`` (both-direction edges) and ``l0`` (identity labels)."""
    rounds = []
    prev = "l0"
    for i in range(1, k_rounds + 1):
        # AS MATERIALIZED is load-bearing: each round references the
        # previous one TWICE (own label + neighbor probe), so inlined
        # CTEs re-expand the whole edges/bands/sig subtree 2^K times —
        # measured as fd exhaustion + ~150 s at sf0.001 before the
        # keyword pinned every round to one evaluation.
        rounds.append(f"""
l{i} AS MATERIALIZED (
  SELECT l.doc_id,
         least(l.cluster_id, coalesce(nm.nbr_min, l.cluster_id)) AS cluster_id
  FROM {prev} l LEFT JOIN (
    SELECT h.src AS doc_id, min(p.cluster_id) AS nbr_min
    FROM half h JOIN {prev} p ON h.dst = p.doc_id GROUP BY h.src
  ) nm USING (doc_id)
)""")
        prev = f"l{i}"
    return ",".join(rounds)


def _ngram_jaccard_clusters_sql(k_rounds: int = ORACLE_ROUNDS) -> str:
    from .dedup import _bands_sql, _minhash_sig_sql, _ngram_jaccard_ctes_sql

    final = f"l{k_rounds}"
    # ONE WITH level: the verify CTEs are spliced in next to the
    # clustering CTEs (sharing sig/bands/reps) instead of nested as a
    # sub-WITH — shadowing an outer MATERIALIZED CTE name trips a
    # DuckDB 1.0.0 internal error, and the shared scan is cheaper.
    return f"""
WITH sig AS MATERIALIZED ({_minhash_sig_sql()}),
bands AS MATERIALIZED ({_bands_sql()}),{_ngram_jaccard_ctes_sql()},
edges AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS src, r.rep AS dst
  FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
  WHERE b.doc_id != r.rep
),
half AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
),
l0 AS MATERIALIZED (
  SELECT doc_id, doc_id AS cluster_id
  FROM (SELECT src AS doc_id FROM edges UNION SELECT dst FROM edges)
),{_cluster_rounds_sql(k_rounds)}
SELECT 'verify' AS leg, v.doc_id, v.rep_id, v.jaccard,
       CAST(NULL AS BIGINT) AS n_docs
FROM verify v
UNION ALL
SELECT 'member', doc_id, cluster_id, CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT)
FROM {final}
UNION ALL
SELECT 'cluster', cluster_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       count(*)
FROM {final} GROUP BY cluster_id
"""


NGRAM_JACCARD_CLUSTERS_ORACLE = _ngram_jaccard_clusters_sql()


QUERIES = [
    QuerySpec(
        "ngram_jaccard_dedup",
        ngram_jaccard_with_clusters,
        NGRAM_JACCARD_CLUSTERS_ORACLE,
        "bucketed Jaccard verify + connected-component clustering "
        "(tagged union)",
    ),
]
