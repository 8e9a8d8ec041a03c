"""Z-order clustering (plans/scale.py): bit-interleave correctness
against a Python reference, and the skipping PROOF — a 2-D box
predicate can skip most files of a z-clustered layout via parquet
footer stats alone, and almost none of a round-robin layout of the
same rows."""

import os

import pytest
from pyspark.sql import functions as F

from rolaguard_data_collectors_spark.catalog import load_table
from rolaguard_data_collectors_spark.plans.scale import (
    file_minmax_stats,
    skippable_fraction,
    write_zordered,
    zorder_value,
)


def _py_zorder(xr: int, yr: int, bits: int) -> int:
    z = 0
    for j in range(bits):
        z |= ((xr >> j) & 1) << (2 * j)
        z |= ((yr >> j) & 1) << (2 * j + 1)
    return z


def test_zorder_value_matches_python_reference(spark):
    # ranks over [0, 15] with bits=4 -> ranks are the values themselves
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y",
            zorder_value(F.col("x"), F.col("y"), 0, 15, 0, 15, bits=4).alias("z"),
        ).collect()
    }
    for x, y in rows:
        assert out[(x, y)] == _py_zorder(x, y, 4), (x, y)


def test_zorder_locality_beats_linear_order(spark):
    # z-values of a 2-D neighborhood must span a far smaller range than
    # the same neighborhood under x-major linear order (the property
    # file clustering relies on).
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int")
    z = zorder_value(F.col("x"), F.col("y"), 0, 63, 0, 63, bits=6)
    got = (
        df.filter((F.col("x") < 8) & (F.col("y") < 8))
        .agg(F.max(z) - F.min(z))
        .first()[0]
    )
    assert got <= 63  # 8x8 block occupies one contiguous z range
    linear = 7 * 64 + 7  # same block under x-major order spans ~7 rows
    assert got < linear


@pytest.mark.parametrize("layout", ["zorder", "roundrobin"])
def test_box_predicate_skipping(spark, sf_dir, tmp_path, layout):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / layout)
    if layout == "zorder":
        write_zordered(ev, path, "user_id", "value", files=16)
    else:
        ev.repartition(16).write.mode("overwrite").parquet(path)

    stats = file_minmax_stats(path, ["user_id", "value"])
    assert len(stats) >= 8  # the rewrite actually split into files

    lo_u = ev.agg(F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")).first()
    u_span, v_span = lo_u[1] - lo_u[0], lo_u[3] - lo_u[2]
    box = {
        "user_id": (lo_u[0], lo_u[0] + u_span * 0.2),
        "value": (lo_u[2], lo_u[2] + v_span * 0.2),
    }
    frac = skippable_fraction(stats, box)
    if layout == "zorder":
        # a 20%x20% box touches a small corner of the z-curve: most
        # files' footer stats miss it entirely
        assert frac >= 0.5, stats
    else:
        # round-robin files all span ~the full range: nothing skips
        assert frac <= 0.1, stats

    # read-back equality: clustering must not change the rows
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert (
        back.agg(F.sum("event_id")).first()[0] == ev.agg(F.sum("event_id")).first()[0]
    )


def test_scan_prunes_row_groups_on_zordered_layout(spark, sf_dir, tmp_path):
    """End-to-end: a Spark scan over the z-clustered layout pushes the
    box predicate down to parquet (PushedFilters) and returns exactly
    the rows a full scan would."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "z2")
    write_zordered(ev, path, "user_id", "value", files=16)
    back = spark.read.parquet(path)
    pred = (F.col("user_id") <= 100) & (F.col("value") <= 50)
    plan = back.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThanOrEqual" in plan, plan
    expect = ev.filter(pred).agg(F.count("*"), F.sum("event_id")).first()
    got = back.filter(pred).agg(F.count("*"), F.sum("event_id")).first()
    assert tuple(got) == tuple(expect)


def test_compact_partitions_content_identical(spark, sf_dir, tmp_path):
    """Round 9: small-files compaction (``SnapshotStore.compact``) over
    an append-accumulated IVF posting table — rewritten partitions end
    at target_files files with content identical row-for-row, in one
    new version; partitions under the threshold keep their exact data
    dirs; the compaction scratch is gone afterwards."""
    import os

    from rolaguard_data_collectors_spark.llm.kmeans import (
        _emb,
        _postings_frame,
        ivf_index_append,
        persist_ivf_index,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "ivf_c")
    persist_ivf_index(spark, sf_dir, path, k=6, iters=1)
    emb = _emb(spark, sf_dir)
    for i in range(5):
        ivf_index_append(
            spark, path,
            emb.where(F.col("vec_id") % 5 == i).select(
                (F.col("vec_id") + (i + 1) * 10_000_000).alias("vec_id"), "v"
            ),
        )
    store = SnapshotStore(path)

    def snapshot():
        return sorted(
            (r["vec_id"], r["cluster"], tuple(r["v"]))
            for r in _postings_frame(spark, path).collect()
        )

    def n_files(rels):
        return sum(
            1 for rel in rels
            for f in os.listdir(os.path.join(path, rel))
            if f.endswith(".parquet")
        )

    before = snapshot()
    before_dirs = dict(store.manifest()["tables"]["postings"])
    version = store.current_version()
    MAXF = 3
    compacted = store.compact(spark, max_files=MAXF, target_files=1,
                              tables=["postings"])
    assert compacted, before_dirs  # the appends created small files
    assert store.current_version() == version + 1
    assert snapshot() == before
    assert not os.path.exists(os.path.join(path, "_stage_compact"))
    after_dirs = store.manifest()["tables"]["postings"]
    done = {cell for _, cell in compacted}
    for cell, rels in before_dirs.items():
        if cell in done:
            assert n_files(after_dirs[cell]) == 1, cell
            assert n_files(rels) > MAXF
        else:
            assert after_dirs[cell] == rels, cell
