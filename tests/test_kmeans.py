"""K-means IVF training (llm/kmeans.py): Lloyd's invariants
(non-increasing inertia), determinism, and the exact-search degeneracy
of ivf_topk at n_probe=k — which pins it against the oracle-checked
brute-force query."""

from __future__ import annotations

import re

import pytest

from rolaguard_data_collectors_spark.llm.kmeans import (
    _postings_frame,
    assign_clusters,
    ivf_topk,
    kmeans_fit,
)
from rolaguard_data_collectors_spark.llm.similarity import (
    TOP_K,
    cosine_topk_bruteforce,
)

K = 6
ITERS = 4


def _scanned_cells(df) -> set[int]:
    """The posting cells whose files a frame's scans open."""
    files = df.inputFiles()
    assert files
    return {
        int(re.search(r"/postings/_dp=(\d+)/", f).group(1)) for f in files
    }


def test_inertia_monotone_and_deterministic(spark, sf_dir):
    c1, h1 = kmeans_fit(spark, sf_dir, k=K, iters=ITERS)
    assert len(h1) == ITERS
    for a, b in zip(h1, h1[1:]):
        assert b <= a + 1e-6  # Lloyd: inertia never increases
    assert len(c1) == K and all(len(c) == 64 for c in c1)
    c2, h2 = kmeans_fit(spark, sf_dir, k=K, iters=ITERS)
    assert c1 == c2 and h1 == h2  # fully deterministic


def test_assignments_cover_corpus(spark, sf_dir):
    centroids, _ = kmeans_fit(spark, sf_dir, k=K, iters=2)
    a = assign_clusters(spark, sf_dir, centroids)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert a.count() == n
    clusters = {r.cluster for r in a.select("cluster").distinct().collect()}
    assert clusters <= set(range(K)) and len(clusters) > 1


def test_ivf_all_probes_equals_bruteforce(spark, sf_dir):
    """n_probe=k searches every posting list -> must return EXACTLY the
    brute-force top-k (same cosine rounding, same tiebreak)."""
    centroids, _ = kmeans_fit(spark, sf_dir, k=K, iters=2)
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(spark, sf_dir, centroids, n_probe=K).collect()
    ]
    want = [
        (r.vec_id, r.cosine)
        for r in cosine_topk_bruteforce(spark, sf_dir).collect()
    ]
    assert got == want and len(got) == TOP_K


def test_ivf_pruned_probe_is_subset_of_probed_clusters(spark, sf_dir):
    centroids, _ = kmeans_fit(spark, sf_dir, k=K, iters=2)
    out = ivf_topk(spark, sf_dir, centroids, n_probe=2).collect()
    assert 0 < len(out) <= TOP_K
    assert len({r.cluster for r in out}) <= 2


def test_persisted_index_matches_inplan_ivf(spark, sf_dir, tmp_path):
    """The persisted index must return exactly what the in-plan IVF
    returns for the same centroids/probes, and the probe scan must
    open only the n_probe cells' files (pruned in the manifest)."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        ivf_index_topk,
        persist_ivf_index,
    )

    path = str(tmp_path / "ivf")
    centroids = persist_ivf_index(spark, sf_dir, path, k=K, iters=2)
    q = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]["v"]

    got_df = ivf_index_topk(spark, path, list(q), n_probe=2, exclude_vec_id=0)
    got = [(r.vec_id, r.cosine) for r in got_df.collect()]
    want = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(spark, sf_dir, centroids, query_vec_id=0,
                          n_probe=2).collect()
    ]
    assert got == want and got

    assert len(_scanned_cells(got_df)) == 2 < K

    # n_probe = k through the index == brute force
    full = [
        (r.vec_id, r.cosine)
        for r in ivf_index_topk(spark, path, list(q), n_probe=K,
                                exclude_vec_id=0).collect()
    ]
    brute = [
        (r.vec_id, r.cosine)
        for r in cosine_topk_bruteforce(spark, sf_dir).collect()
    ]
    assert full == brute


def test_quantized_index_matches_int8_bruteforce(spark, sf_dir, tmp_path):
    """quantize=True postings: at n_probe=k the index ranking must
    equal the int8 brute-force scan (same codes, same rescaled integer
    dot, same query quantization)."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        ivf_index_topk,
        persist_ivf_index,
    )
    from rolaguard_data_collectors_spark.llm.similarity import cosine_topk_int8

    path = str(tmp_path / "ivf_q")
    persist_ivf_index(spark, sf_dir, path, k=K, iters=2, quantize=True)
    q = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]["v"]

    got = [
        (r.vec_id, r.cosine)
        for r in ivf_index_topk(spark, path, list(q), n_probe=K,
                                exclude_vec_id=0).collect()
    ]
    want = [
        (r.vec_id, r.approx_dot) for r in cosine_topk_int8(spark, sf_dir).collect()
    ]
    assert got == want and got


def test_semantic_dedup_from_index_matches_and_prunes(spark, sf_dir, tmp_path):
    """Round 8: SemDeDup over the persisted IVF posting layout — the
    100 TB shape the in-memory variant's docstring promises. Full-index
    survivors must equal semantic_dedup over the same codebook
    recomputed in-plan; a run restricted to one coarse cell must (a)
    scan ONLY that cell's posting directory (pruned in the manifest)
    and (b) return exactly the full run's rows for that cell
    (blocking is cluster-local, so cell-at-a-time sweeps are correct)."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        persist_ivf_index,
        semantic_dedup,
        semantic_dedup_from_index,
    )

    path = str(tmp_path / "ivf_sem")
    centroids = persist_ivf_index(spark, sf_dir, path, k=K, iters=2)

    from_index = semantic_dedup_from_index(spark, path, threshold=0.4)
    in_plan = semantic_dedup(spark, sf_dir, centroids, threshold=0.4)
    got = sorted((r.vec_id, r.cluster) for r in from_index.collect())
    want = sorted((r.vec_id, r.cluster) for r in in_plan.collect())
    assert got == want and got

    cell = want[0][1]
    cell_df = semantic_dedup_from_index(spark, path, threshold=0.4,
                                        clusters=[cell])
    assert _scanned_cells(cell_df) == {cell}
    cell_rows = sorted((r.vec_id, r.cluster) for r in cell_df.collect())
    assert cell_rows == [t for t in want if t[1] == cell]

    # quantized postings refuse exact-cosine dedup with a clear error
    import pytest

    qpath = str(tmp_path / "ivf_semq")
    persist_ivf_index(spark, sf_dir, qpath, k=K, iters=1, quantize=True)
    with pytest.raises(ValueError, match="float postings"):
        semantic_dedup_from_index(spark, qpath)


def test_ivf_index_append_quantized_codes_match_builder(spark, sf_dir, tmp_path):
    """Round 9: appending to a QUANTIZED index routes on the float
    vector but persists codes quantized with the index's frozen scales
    codebook — bit-identical to what the original builder produced for
    the same vectors (append a copy of every existing vector under a
    shifted id and compare code arrays cell by cell)."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        ivf_index_append,
        persist_ivf_index,
    )

    qpath = str(tmp_path / "ivf_qapp")
    persist_ivf_index(spark, sf_dir, qpath, k=K, iters=1, quantize=True)
    base = {
        (r["cluster"], r["vec_id"]): list(r["codes"])
        for r in _postings_frame(spark, qpath).collect()
    }
    emb = _emb(spark, sf_dir)
    shift = 1_000_000
    ivf_index_append(
        spark, qpath,
        emb.select((F.col("vec_id") + shift).alias("vec_id"), "v"),
    )
    after = {
        (r["cluster"], r["vec_id"]): list(r["codes"])
        for r in _postings_frame(spark, qpath).collect()
    }
    appended = {k: v for k, v in after.items() if k[1] >= shift}
    assert len(appended) == len(base) and len(after) == 2 * len(base)
    for (cluster, vid), codes in appended.items():
        assert base[(cluster, vid - shift)] == codes, (cluster, vid)


def test_semantic_dedup_incremental_cell_sweep(spark, sf_dir, tmp_path):
    """Round 9: the changed-cells-only maintenance flow a 100 TB lake
    index actually runs, end to end through the operators: route new
    vectors into the persisted index with ivf_index_append (an exact
    duplicate must land in its mate's cell — nearest-centroid routing,
    not caller-supplied), re-dedup ONLY the cells the append reports
    touched, and assert the union with the untouched cells' PREVIOUS
    survivors equals a full re-run over the updated index —
    cluster-local blocking makes the incremental sweep exact, not
    approximate: the whole incremental loop (add-mode append commit ->
    touched cells -> manifest-pruned per-cell re-dedup) on the
    versioned store."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm.kmeans import (
        ivf_index_append,
        persist_ivf_index,
        read_ivf_postings,
        semantic_dedup_from_index,
    )

    path = str(tmp_path / "ivf_inc")
    persist_ivf_index(spark, sf_dir, path, k=K, iters=2)
    before = {
        (r.vec_id, r.cluster)
        for r in semantic_dedup_from_index(spark, path).collect()
    }

    # two cells receive appends: exact duplicates of one existing
    # member each, with NEGATIVE vec_ids so the keep-smallest rule must
    # flip the survivor (the append visibly changes those cells).
    posts = read_ivf_postings(spark, path)
    seeds = (
        posts.groupBy("cluster")
        .agg(F.min("vec_id").alias("vec_id"))
        .orderBy("cluster")
        .limit(2)
        .collect()
    )
    expect_cells = sorted(r.cluster for r in seeds)
    seed_ids = [r.vec_id for r in seeds]
    assert len(set(expect_cells)) == 2
    add = posts.where(F.col("vec_id").isin(seed_ids)).select(
        (-F.col("vec_id") - 1).alias("vec_id"), "v"
    )
    changed_cells = ivf_index_append(spark, path, add)
    # nearest-centroid routing sent each duplicate to its mate's cell
    assert changed_cells == expect_cells

    after_full = {
        (r.vec_id, r.cluster)
        for r in semantic_dedup_from_index(spark, path).collect()
    }
    changed = {
        (r.vec_id, r.cluster)
        for r in semantic_dedup_from_index(
            spark, path, clusters=changed_cells
        ).collect()
    }
    untouched = {t for t in before if t[1] not in changed_cells}
    assert changed | untouched == after_full
    # the appends really flipped the changed cells' survivor sets: the
    # negative ids survive, their duplicated mates are now dropped
    assert {t for t in before if t[1] in changed_cells} != changed
    for sid in seed_ids:
        assert not any(v == sid for v, _ in changed)
    assert {v for v, _ in changed if v < 0} == {-i - 1 for i in seed_ids}


def test_ivf_append_sink_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    """Round 9: streaming appends into the persisted index must be
    exactly-once under foreachBatch replay — a replayed committed
    epoch adds nothing, a crash between stage and commit leaves the
    live postings untouched and the replay lands the rows exactly
    once, and the epoch records double as the changed-cells feed."""
    import os

    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm.kmeans import (
        IvfAppendSink,
        _emb,
        _route_for_index,
        persist_ivf_index,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "ivf_sink")
    persist_ivf_index(spark, sf_dir, path, k=K, iters=1)
    base_n = _postings_frame(spark, path).count()
    emb = _emb(spark, sf_dir)
    SH = 10_000_000
    b0 = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + SH).alias("vec_id"), "v"
    )
    b1 = emb.where(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 2 * SH).alias("vec_id"), "v"
    )
    sink = IvfAppendSink(path)

    def n_posts():
        return _postings_frame(spark, path).count()

    sink(b0, 0)
    n1 = n_posts()
    assert n1 == base_n + b0.count()
    sink(b0, 0)  # Spark restart replays the committed epoch
    assert n_posts() == n1

    class CrashBeforeCommit(Exception):
        pass

    def dying_commit(self, *a, **k):
        raise CrashBeforeCommit()

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "commit_staged", dying_commit)
        with pytest.raises(CrashBeforeCommit):
            sink(b1, 1)
    assert n_posts() == n1  # live untouched by the crashed attempt
    sink(b1, 1)  # replay: marker present -> commit the staged rows
    assert n_posts() == n1 + b1.count()
    assert not os.path.isdir(os.path.join(path, "_epochs", "epoch=1"))

    want_cells = sorted(
        r["cluster"]
        for r in _route_for_index(spark, path, b1)
        .select("cluster").distinct().collect()
    )
    log = sink.committed()
    assert sorted(log) == [0, 1] and log[1] == want_cells
    # the appended rows are readable and correctly celled
    got = {
        r["vec_id"] % SH
        for r in _postings_frame(spark, path)
        .where(F.col("vec_id") >= 2 * SH).collect()
    }
    assert got == {r["vec_id"] for r in emb.where(F.col("vec_id") % 10 == 1).collect()}


def test_ivf_sink_crash_during_commit(spark, sf_dir, tmp_path, monkeypatch):
    """A crash DURING the commit — staged rows renamed into the data
    dir, manifest never written — must stay invisible: no rows, no
    epoch record in the changed-cells feed. The replay finishes the
    pending commit, skips the now-committed epoch, and no posting row
    is duplicated."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.llm import kmeans as KM
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "ivf_torn")
    KM.persist_ivf_index(spark, sf_dir, path, k=K, iters=1)
    base_n = _postings_frame(spark, path).count()
    b0 = KM._emb(spark, sf_dir).where(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "v"
    )
    sink = KM.IvfAppendSink(path)

    class TornCommit(Exception):
        pass

    def dying_finish(self, n):
        raise TornCommit()

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_finish", dying_finish)
        with pytest.raises(TornCommit):
            sink(b0, 0)
    assert sink.committed() == {}  # pending commit not in the feed
    assert _postings_frame(spark, path).count() == base_n
    sink(b0, 0)  # replay: recover() finishes the commit, epoch skipped
    assert _postings_frame(spark, path).count() == base_n + b0.count()
    want_cells = sorted(
        r["cluster"]
        for r in KM._route_for_index(spark, path, b0)
        .select("cluster").distinct().collect()
    )
    assert sink.committed() == {0: want_cells}
