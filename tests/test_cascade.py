"""Cascaded time-grain rollup (operators/cascade.py): oracle parity
(cascaded == direct at every grain), single-scan plan, NULL edges."""

from __future__ import annotations

import datetime
import os

import duckdb
import pandas as pd
import pytest

from rolaguard_data_collectors_spark.operators.cascade import (
    CASCADE_ROLLUP_ORACLE,
    cascade_rollup,
)
from rolaguard_data_collectors_spark.oracle import compare


def _con(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    return con


@pytest.mark.parametrize("sfd", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_cascade_matches_direct_aggregation(spark, sfd):
    r = compare("cascade_rollup", cascade_rollup(spark, sfd),
                CASCADE_ROLLUP_ORACLE, _con(sfd))
    assert r.ok and r.exact_match and r.dtypes_match, (r.detail, r.dtype_skews)


def test_cascade_single_scan(spark):
    """The point of the cascade: ONE raw scan; hour and day re-aggregate
    the staged minute frame instead of re-reading events."""
    plan = cascade_rollup(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert plan.count("FileScan parquet") <= 1, plan


def _grain_snap(spark, path):
    from rolaguard_data_collectors_spark.operators.cascade import read_grain

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
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_grains,
    )

    got = _grain_snap(spark, path)
    for grain, df in cascade_grains(spark, sf_dir).items():
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["_sv"])
            for r in df.collect()
        }
        assert got[grain] == want, grain


def _events_dir(tmp_path, name, df):
    d = str(tmp_path / name)
    os.makedirs(d)
    df.toPandas().to_parquet(os.path.join(d, "events.parquet"), index=False)
    return d


def test_cascade_append_equals_full_recompute(spark, sf_dir, tmp_path):
    """Round 9: the persisted continuous-aggregate maintenance flow —
    build the day-partitioned grain tables from a history slice, merge
    a micro-batch confined to two days with cascade_append, and assert
    (a) every grain table now equals a FULL recompute over
    history+batch, bit-identical (the decimal sums make merge
    generations exact), and (b) untouched day partitions kept their
    exact data dirs (the rewrite is O(touched days), never O(table))."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_append,
        persist_cascade,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events")
    # batch = a subset of events from exactly two calendar days
    days = [
        r["d"]
        for r in ev.select(F.to_date("ts").alias("d"))
        .where(F.col("d").isNotNull())
        .distinct()
        .orderBy("d")
        .limit(2)
        .collect()
    ]
    is_batch = F.to_date("ts").isin(days) & (F.col("event_id") % 3 == 0)
    hist_dir = _events_dir(
        tmp_path, "hist", ev.where(~F.coalesce(is_batch, F.lit(False)))
    )
    batch = ev.where(is_batch)
    assert batch.count() > 0

    path = str(tmp_path / "casc")
    persist_cascade(spark, hist_dir, path)
    store = SnapshotStore(path)
    untouched_day = (
        ev.select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"))
        .where(F.col("d").isNotNull() & ~F.col("d").isin([str(d) for d in days]))
        .distinct()
        .orderBy("d")
        .limit(1)
        .collect()[0]["d"]
    )
    before_dirs = store.manifest()["tables"]["minute"][untouched_day]

    touched = cascade_append(spark, path, batch)
    assert touched == [str(d) for d in days]
    assert store.manifest()["tables"]["minute"][untouched_day] == before_dirs
    _assert_equals_recompute(spark, path, sf_dir)


def test_cascade_sink_exactly_once_and_crash_replay(spark, sf_dir, tmp_path,
                                                    monkeypatch):
    """Round 9: the stage/commit protocol that makes the
    non-idempotent grain merge exactly-once under foreachBatch replay.
    (a) replaying a COMMITTED epoch is a no-op (no double merge);
    (b) a crash between stage and commit replays by committing the
    staged post-state without recomputing from the (still untouched)
    live table; (c) stale scratch from another epoch's crashed attempt
    is cleared; final tables equal a full recompute over both batches."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        CascadeMaintenanceSink,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    path = str(tmp_path / "casc_sink")
    SnapshotStore.create(path)
    sink = CascadeMaintenanceSink(path)
    ev = load_table(spark, sf_dir, "events")
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 != 0)

    sink(b0, 0)
    s0 = _grain_snap(spark, path)
    sink(b0, 0)  # Spark restart replays the last epoch
    assert _grain_snap(spark, path) == s0

    class CrashBeforeCommit(Exception):
        pass

    def dying_commit(self, *a, **k):
        raise CrashBeforeCommit()

    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "commit_staged", dying_commit)
        with pytest.raises(CrashBeforeCommit):
            sink(b1, 1)
    assert _grain_snap(spark, path) == s0  # live untouched by the crash
    assert os.path.exists(os.path.join(path, "_epochs", "epoch=1", "_STAGED"))
    # a crashed attempt of some OTHER epoch left junk scratch behind
    os.makedirs(os.path.join(path, "_epochs", "epoch=99"), exist_ok=True)
    sink(b1, 1)  # replay: marker present -> commit the staged state
    assert not os.path.isdir(os.path.join(path, "_epochs", "epoch=99"))
    assert not os.path.isdir(os.path.join(path, "_epochs", "epoch=1"))
    _assert_equals_recompute(spark, path, sf_dir)


def test_cascade_sink_remaining_crash_windows(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """Round 9: the two commit crash points after the stage — data
    renamed in but no manifest, and manifest written but the version
    pointer not flipped. Both must replay to the exact full-recompute
    state, with the epoch applied exactly once."""
    import json

    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        CascadeMaintenanceSink,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    class Boom(Exception):
        pass

    def crash_before_manifest(self, n):
        raise Boom()

    def crash_before_flip(self, n):
        self._store.put_atomic(self._manifest_path(n),
                               json.dumps(self._build_manifest(n)))
        raise Boom()

    path = str(tmp_path / "casc_crash")
    SnapshotStore.create(path)
    ev = load_table(spark, sf_dir, "events")
    batches = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]

    CascadeMaintenanceSink(path)(batches[0], 0)
    for epoch, crash in ((1, crash_before_manifest), (2, crash_before_flip)):
        with monkeypatch.context() as m:
            m.setattr(SnapshotStore, "_finish", crash)
            with pytest.raises(Boom):
                CascadeMaintenanceSink(path)(batches[epoch], epoch)
        assert not SnapshotStore(path).epoch_committed("append", epoch)
        CascadeMaintenanceSink(path)(batches[epoch], epoch)  # recover+skip
        assert SnapshotStore(path).epoch_committed("append", epoch)
    _assert_equals_recompute(spark, path, sf_dir)


def test_cascade_retract_equals_full_recompute(spark, sf_dir, tmp_path):
    """Round-10 verdict item #2: retracting a batch from the
    maintained cascade equals a FULL recompute over the surviving
    events, bit-identical (decimal sums), with fully-emptied days
    dropped at every grain and untouched partitions keeping their
    exact data dirs."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_retract,
        persist_cascade,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events")
    days = [
        r["d"]
        for r in ev.select(F.to_date("ts").alias("d"))
        .where(F.col("d").isNotNull())
        .distinct()
        .orderBy("d")
        .limit(2)
        .collect()
    ]
    # retract ALL of day 0 (partition must drop) + a slice of day 1
    is_batch = (F.to_date("ts") == days[0]) | (
        (F.to_date("ts") == days[1]) & (F.col("event_id") % 3 == 0)
    )
    batch = ev.where(is_batch)
    assert batch.count() > 0

    path = str(tmp_path / "casc")
    persist_cascade(spark, sf_dir, path)
    store = SnapshotStore(path)
    untouched_day = (
        ev.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")
        )
        .where(F.col("d").isNotNull() & ~F.col("d").isin([str(d) for d in days]))
        .distinct()
        .orderBy("d")
        .limit(1)
        .collect()[0]["d"]
    )
    before_dirs = store.manifest()["tables"]["minute"][untouched_day]

    touched = cascade_retract(spark, path, batch)
    assert touched == [str(d) for d in days]
    assert store.manifest()["tables"]["minute"][untouched_day] == before_dirs
    for g in ("minute", "hour", "day"):
        assert str(days[0]) not in store.table_days(g), g  # emptied

    surv_dir = _events_dir(
        tmp_path, "surv", ev.where(~F.coalesce(is_batch, F.lit(False)))
    )
    _assert_equals_recompute(spark, path, surv_dir)


def test_cascade_append_then_retract_roundtrips(spark, sf_dir, tmp_path):
    """append(B) then retract(B) returns the grain tables to exactly
    their prior CONTENT (decimal cancellation is exact)."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_append,
        cascade_retract,
        persist_cascade,
    )

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "casc_rt")
    batch = ev.where(F.col("event_id") % 5 == 0)
    base_dir = _events_dir(tmp_path, "base",
                           ev.where(F.col("event_id") % 5 != 0))
    persist_cascade(spark, base_dir, path)
    before = _grain_snap(spark, path)
    cascade_append(spark, path, batch)
    assert _grain_snap(spark, path) != before
    cascade_retract(spark, path, batch)
    assert _grain_snap(spark, path) == before


def test_cascade_retract_rejects_never_added(spark, sf_dir, tmp_path):
    """Retracting events that were never appended must raise and stage
    NOTHING — the live tables stay bit-identical."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_retract,
        persist_cascade,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "casc_bad")
    persist_cascade(spark, sf_dir, path)
    before = _grain_snap(spark, path)
    version = SnapshotStore(path).current_version()
    # a real minute group, retracted TWICE over (count would go negative)
    one = ev.where(F.col("ts").isNotNull()).limit(1)
    with pytest.raises(ValueError, match="never added"):
        cascade_retract(spark, path, one.unionByName(one).unionByName(one)
                        .unionByName(one).crossJoin(spark.range(50))
                        .select("ts", "event_type", "value"))
    assert _grain_snap(spark, path) == before
    assert SnapshotStore(path).current_version() == version
    assert not os.path.isdir(os.path.join(path, "_stage_tmp"))


def test_cascade_retract_sink_exactly_once_and_crash_replay(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The retraction STREAM (CascadeMaintenanceSink(negate=True)):
    its epochs are a separate direction from the append sink's (epoch
    0 on both must not collide), committed-epoch replay is a no-op,
    and a crash mid-commit replays to the exact surviving-events
    recompute."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.catalog import load_table
    from rolaguard_data_collectors_spark.operators.cascade import (
        CascadeMaintenanceSink,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    class Boom(Exception):
        pass

    def dying_finish(self, n):
        raise Boom()

    path = str(tmp_path / "casc_rsink")
    SnapshotStore.create(path)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.where(F.col("event_id") % 4 == 0)

    CascadeMaintenanceSink(path)(ev, 0)  # append stream, epoch 0
    retract = CascadeMaintenanceSink(path, negate=True)
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "_finish", dying_finish)
        with pytest.raises(Boom):
            retract(batch, 0)  # retract stream, epoch 0
    retract(batch, 0)  # replay finishes the commit
    store = SnapshotStore(path)
    assert store.epoch_committed("retract", 0)
    assert store.epoch_committed("append", 0)
    after = _grain_snap(spark, path)
    retract(batch, 0)  # committed epoch: no double retraction
    assert _grain_snap(spark, path) == after

    surv_dir = _events_dir(tmp_path, "surv",
                           ev.where(F.col("event_id") % 4 != 0))
    _assert_equals_recompute(spark, path, surv_dir)


def test_maintained_rollup_matches_recompute_and_prunes(spark, sf_dir):
    """Round-10 verdict item #5: the minute/hour/day legs served from
    the PERSISTED grain tables (the maintained artifact) are
    row-identical to the in-memory cascade — and a day-filtered read
    of the artifact prunes at the MANIFEST: pruning selects pinned
    dirs before Spark ever lists a file."""
    from rolaguard_data_collectors_spark.operators.cascade import (
        cascade_rollup,
        maintained_cascade_path,
        maintained_cascade_rollup,
    )
    from rolaguard_data_collectors_spark.snapshots import SnapshotStore

    def snap(df):
        return sorted(
            (r["grain"], r["window_start"], r["event_type"],
             r["n_events"], r["total_value"])
            for r in df.collect()
        )

    assert snap(maintained_cascade_rollup(spark, sf_dir)) == snap(
        cascade_rollup(spark, sf_dir)
    )
    # memoized: second call reuses the artifact (no rebuild)
    path = maintained_cascade_path(spark, sf_dir)
    assert maintained_cascade_path(spark, sf_dir) == path

    store = SnapshotStore(path)
    day = next(d for d in store.table_days("minute") if d != "__null__")
    pruned = store.read(spark, "minute", days=[day])
    files = pruned.inputFiles()
    assert files and all(f"_dp={day}" in f for f in files), files
    assert {r["_d"] for r in pruned.select("_d").distinct().collect()} == {day}


def test_cascade_sink_null_timestamp_partition(spark, tmp_path):
    """NULL-timestamp events flow through the maintenance sink into
    the explicit __null__ day partition and merge across epochs like
    any other bucket."""
    from rolaguard_data_collectors_spark.operators.cascade import (
        CascadeMaintenanceSink,
        read_grain,
    )
    from rolaguard_data_collectors_spark.snapshots import NULL_DAY, SnapshotStore

    path = str(tmp_path / "casc_null")
    store = SnapshotStore.create(path)
    sink = CascadeMaintenanceSink(path)
    schema = "ts timestamp, event_type string, value double"
    t = datetime.datetime(2023, 7, 1, 10, 0, 30)
    sink(spark.createDataFrame([(t, "click", 1.0), (None, "x", 2.0)], schema), 0)
    sink(spark.createDataFrame([(None, "x", 3.5), (None, None, 1.0)], schema), 1)
    assert NULL_DAY in store.table_days("day")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["_sv"]))
        for r in read_grain(spark, path, "day").collect()
    }
    assert got[(None, "x")] == (2, 5.5)       # merged across epochs
    assert got[(None, None)] == (1, 1.0)      # NULL type group intact
    assert got[(datetime.datetime(2023, 7, 1), "click")] == (1, 1.0)


def test_cascade_null_edges(spark, tmp_path):
    """NULL timestamps form their own bucket at every grain; NULL
    event_type groups; all-NULL value groups stay NULL (not 0.0)
    through the re-aggregation."""
    t = datetime.datetime(2023, 7, 1, 10, 15, 30)
    rows = [
        (1, 1, "click", 1.25, t),
        (2, 1, "click", 2.50, t + datetime.timedelta(seconds=10)),
        (3, 1, "click", 4.00, t + datetime.timedelta(minutes=50)),
        (4, 2, None, 8.00, t),                 # NULL type group
        (5, 2, "view", None, t),               # NULL value in a mixed group
        (6, 3, "view", None, t),               # all-NULL-value group member
        (7, 3, "signup", 16.0, None),          # NULL ts bucket
        (8, 3, "signup", 32.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "value", "ts"]
    )
    d = str(tmp_path)
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)
    r = compare("cascade_nulls", cascade_rollup(spark, d),
                CASCADE_ROLLUP_ORACLE, _con(d))
    assert r.ok and r.exact_match and r.dtypes_match, (r.detail, r.dtype_skews)
    got = {(x["grain"], x["window_start"], x["event_type"]): x.asDict()
           for x in cascade_rollup(spark, d).collect()}
    # NULL ts: one bucket per grain, both signups aggregated
    assert got[("day", None, "signup")]["n_events"] == 2
    assert got[("day", None, "signup")]["total_value"] == 48.0
    # hour grain merges the two click minutes (15' and 65' -> 10h, 11h)
    assert got[("hour", datetime.datetime(2023, 7, 1, 10), "click")]["n_events"] == 2
    assert got[("day", datetime.datetime(2023, 7, 1), "click")]["n_events"] == 3
    assert got[("day", datetime.datetime(2023, 7, 1), "click")]["total_value"] == 7.75
