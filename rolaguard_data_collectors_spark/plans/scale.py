"""Scale toolkit (SURVEY.md §4, §6): the four layout levers that decide
whether the engine's joins and scans survive 100 TB.

The reference never needed any of this — it holds its whole state in one
process's dicts (DeviceMap, LoraServerIOCollector.py:83-90) and its
"table" is a RabbitMQ queue. On a cluster the equivalents are data
layout decisions, made once at write time and repaid on every query:

* **Bucketing** (`write_bucketed`): persist both sides of a recurring
  equi-join pre-hashed into the same number of buckets on the join key.
  Spark's scan then reports the bucket spec as its output partitioning
  and the sort-merge join runs with NO Exchange — the single biggest
  shuffle saving available for a fact-to-fact join (e.g. packets joined
  to devices_map snapshots on dev_eui, orders to lineitem on orderkey).

* **Skew salting** (`salted_join`): one hot key (a chatty gateway, a
  null dev_addr) puts an entire cluster behind one reducer. Salting
  fans the hot side's rows over N sub-keys and replicates the other
  side N times, bounding any reducer at 1/N of the hot key. AQE's
  skew-join handles moderate skew adaptively; explicit salting is for
  the pathological case AQE can't split (a single key larger than an
  executor).

* **Partitioned layout** (`write_partitioned`): time/tenant-partitioned
  parquet so predicates become PartitionFilters — a scan that touches
  the partitions the query names and nothing else. This is the batch
  analog of the reference's per-collector topic subscription.

* **Z-order clustering** (`write_zordered`): directory partitioning
  prunes on ONE column; interleaving the bit ranks of two columns and
  range-sorting files by the z-value makes parquet footer min/max
  tight on BOTH, so a two-sided box predicate skips most files before
  any IO (proven via footer stats in tests/test_layout.py: >=50% of
  files skippable z-ordered vs <=10% round-robin on the same rows).
  This is the periodic OPTIMIZE-style compaction pass for hot fact
  partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def global_bucket_offsets(bcnt: DataFrame, bucket_col: str,
                          count_col: str) -> DataFrame:
    """Exclusive prefix-sum offsets over a bucket-count frame — THE
    sanctioned partition-less-window idiom (distributed global rank /
    percentile brackets): a ``Window.orderBy(bucket)`` is only
    100-TB-safe when its input is the AGGREGATED per-bucket count
    frame (O(buckets) rows), never data rows. tests/test_plans.py pins
    the plan shape; this helper adds the build-time guard the shape
    test can't express — it refuses any input whose optimized plan
    does not terminate in an aggregate grouping by the bucket column,
    so a refactor can't silently route data rows through the one
    reducer. Returns (bucket_col, count_col, _off) with ``_off`` =
    rows in all earlier buckets."""
    from pyspark.sql import Window

    top = (
        bcnt._jdf.queryExecution().optimizedPlan().toString()
        .splitlines()[0]
    )
    if not top.lstrip().startswith("Aggregate") or f"{bucket_col}#" not in top:
        raise ValueError(
            "global_bucket_offsets input must be a per-bucket aggregate "
            f"grouped by {bucket_col!r} (got plan head: {top.strip()!r}) — "
            "a partition-less window over anything else is a single-"
            "reducer funnel at scale"
        )
    w = Window.orderBy(bucket_col)
    return bcnt.select(
        bucket_col,
        count_col,
        (F.sum(count_col).over(w) - F.col(count_col)).alias("_off"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on ``keys``.

    Two tables written with the same keys and bucket count join
    shuffle-free: each scan task reads exactly one bucket pair, already
    co-partitioned and (if ``sort_cols`` covers the keys) already
    sorted, so the SMJ needs neither Exchange nor Sort. Bucket count is
    a capacity decision: at 100 TB pick buckets so one bucket of the
    larger table fits an executor's memory (e.g. 4096), not the row
    count of the test fixture.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *keys)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salts: int = 8,
) -> DataFrame:
    """Equi-join with the left (large, skewed) side salted over
    ``salts`` sub-keys and the right side replicated once per salt.

    Output equals ``left.join(right, on, how)`` row-for-row: every left
    row carries exactly one salt value and the replicated right side
    contains all of them, so each (key, salt) pair matches precisely the
    right rows the unsalted join would match. Cost: right side scanned
    into ``salts``x rows — use on dimension-sized right sides that are
    over the broadcast threshold but far below the fact table.

    The salt comes from monotonically_increasing_id, which embeds the
    runtime partition id — stable across a TASK retry of a
    deterministic-order source, but not across a re-plan that changes
    upstream partitioning. That is fine HERE because correctness never
    depends on which salt a row gets (the right side carries every
    salt; see the row-for-row argument above) — the salt only spreads
    a hot key across reducers. Do not copy this construct into logic
    whose OUTPUT depends on the partition-derived value (see
    llm/curate.pack_token_shards for that lesson: bucket by a
    value-derived hash instead).
    """
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts))
    salted_left = left.withColumn(SALT_COL, salt.cast("int"))
    replicated_right = right.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return salted_left.join(replicated_right, keys + [SALT_COL], how).drop(SALT_COL)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet (one dir level per column value).

    Queries filtering on ``partition_cols`` scan only the matching
    directories (PartitionFilters), so a day query over a years-deep
    packet archive reads one day. Keep partition cardinality bounded
    (date, collector id — never dev_eui): each value is a directory,
    and millions of tiny files cost more than they prune.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


# Floor of the shuffle width detect_skew measures fair share against:
# a key over 2/8 = a quarter of the rows is skewed even when the
# session's shuffle is narrower.
SKEW_MIN_PARTITIONS = 8


def detect_skew(df, key: str, top: int = 10, counters: int = 500):
    """Pre-join skew diagnosis: the share of rows held by each of the
    hottest join keys, computed with the bounded-memory heavy-hitter
    operator (llm/text.heavy_hitters — O(counters) executor memory, so
    it is safe to run on the 100 TB fact table you are ABOUT to join,
    unlike a full groupBy on the key). Returns (key, freq, rank,
    share, skewed) where ``skewed`` flags keys holding more than
    2x a fair partition's share of a join's shuffle — the keys to route
    through salted_join (or AQE's skew-join splitting).

    The fair share is taken over the shuffle width the join would use
    (AQE's initial partition number, else
    ``spark.sql.shuffle.partitions``), floored at
    ``SKEW_MIN_PARTITIONS``: on a narrow shuffle 2x the fair share
    reaches a half or the whole table, which no key could exceed, so a
    key holding half the rows would go unflagged."""
    from pyspark.sql import functions as F

    from ..llm.text import heavy_hitters

    spark = df.sparkSession
    n = df.count()
    width = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    ) or spark.conf.get("spark.sql.shuffle.partitions")
    n_part = max(int(width), SKEW_MIN_PARTITIONS)
    # strict=False: the diagnosis cares about HEAVY keys, and any key
    # with share > 1/(counters+1) is a guaranteed MG survivor — far
    # below the 2x-fair-share skew threshold this flags. The tail of
    # the top-N listing is advisory, so the top-k exactness guard
    # (which a near-uniform key distribution legitimately violates)
    # would reject exactly the healthy-table case.
    hh = heavy_hitters(
        df.select(F.col(key).cast("string").alias("k")), "k", k=top,
        counters=counters, strict=False,
    )
    fair = 1.0 / n_part
    return hh.select(
        F.col("k").alias(key),
        "freq",
        "rank",
        F.round(F.col("freq") / F.lit(float(n)), 6).alias("share"),
        (F.col("freq") / F.lit(float(n)) > 2 * fair).alias("skewed"),
    )


# --- Z-order clustering (multi-column data skipping) ----------------------

ZORDER_BITS = 16


def zorder_value(
    x, y, xmin: float, xmax: float, ymin: float, ymax: float,
    bits: int = ZORDER_BITS,
):
    """Morton/Z-order key for two numeric columns: normalize each to a
    ``bits``-bit integer rank over its [min, max] range, then
    interleave the bits (x in even positions, y in odd). Rows close in
    BOTH dimensions get close z-values, so sorting by z co-locates 2-D
    neighborhoods — the layout trick behind multi-column data skipping
    (a directory partition prunes on ONE column; z-clustering makes
    parquet min/max footer stats tight on TWO at once).

    The [min, max] ranges come from the caller (one tiny aggregate —
    O(1) driver data, same class as the k-means centroid collects);
    pure column arithmetic otherwise, whole-stage codegen'd. Degenerate
    ranges (min == max) collapse that dimension's rank to 0."""
    max_rank = (1 << bits) - 1

    def _rank(col, lo, hi):
        span = hi - lo
        if span <= 0:
            return F.lit(0).cast("bigint")
        scaled = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            / F.lit(float(span)) * F.lit(float(max_rank))
        ).cast("bigint")
        return F.greatest(F.lit(0), F.least(F.lit(max_rank), scaled))

    xr, yr = _rank(x, xmin, xmax), _rank(y, ymin, ymax)
    z = F.lit(0).cast("bigint")
    for j in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xr, j).bitwiseAND(1), 2 * j)
            + F.shiftleft(F.shiftright(yr, j).bitwiseAND(1), 2 * j + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    xcol: str,
    ycol: str,
    files: int = 16,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Rewrite a table Z-clustered on two columns: range-partition on
    the z-value into ``files`` output files and sort within each, so
    every file's parquet footer carries TIGHT min/max for BOTH columns
    and a two-sided box predicate skips most files before any IO.

    This is the compaction/OPTIMIZE-style lake maintenance pass: run it
    periodically over hot fact partitions; every subsequent scan repays
    it through footer-level pruning (PushedFilters + row-group stats).
    repartitionByRange's sampled boundaries are nondeterministic across
    runs, which is fine HERE — any valid range split yields a correct,
    well-clustered layout (determinism matters for query results, not
    physical placement)."""
    lo_hi = df.agg(
        F.min(xcol), F.max(xcol), F.min(ycol), F.max(ycol)
    ).first()
    z = zorder_value(
        F.col(xcol), F.col(ycol),
        lo_hi[0], lo_hi[1], lo_hi[2], lo_hi[3], bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def file_minmax_stats(path: str, cols: list[str]):
    """Per-file [min, max] of ``cols`` from the parquet FOOTERS (no
    data read) — the exact stats a scan's row-group pruning consults.
    Returns {file: {col: (min, max)}}. Used to PROVE a layout skips:
    a box predicate can skip every file whose stat range misses it."""
    import os

    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict = {}
        for col in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[col]).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            stats[col] = (lo, hi)
        out[name] = stats
    return out


def skippable_fraction(
    stats: dict, box: dict[str, tuple]
) -> float:
    """Fraction of files a conjunctive box predicate can skip given
    ``file_minmax_stats`` output: a file is skippable when ANY
    predicate column's [min, max] misses its box interval."""
    if not stats:
        return 0.0
    skipped = 0
    for f_stats in stats.values():
        for col, (lo, hi) in box.items():
            fmin, fmax = f_stats.get(col, (None, None))
            if fmin is not None and (fmax < lo or fmin > hi):
                skipped += 1
                break
    return skipped / len(stats)


def _reject_snapshot_root(root: str, lock_root: "str | None",
                          op: str, instead: str, store_cls) -> None:
    """The hive maintenance ops walk ``<root>/<col>=...`` dirs; on a
    SNAPSHOT-layout root (or a sub-path of one) there are none, so
    they would silently no-op — worse than failing. Raise with the
    snapshot-native replacement instead."""
    import os

    for probe in (root, lock_root, os.path.dirname(root.rstrip("/"))):
        if probe and store_cls.is_snapshot(probe):
            raise ValueError(
                f"{op}: {root} belongs to a snapshot-layout table "
                f"({probe}); use {instead} — it is reader-safe and "
                "needs no partition-swap machinery"
            )


def compact_partitions(spark, root: str, max_files: int = 8,
                       target_files: int = 1,
                       lock_root: str | None = None,
                       lock_timeout: float = 120.0,
                       _after_stage=None) -> list[str]:
    """Small-files compaction for a hive-partitioned parquet table —
    the lake maintenance every append sink eventually needs: each
    micro-batch append (IvfAppendSink, the epoch-file postings;
    CascadeMaintenanceSink before a partition goes cold) adds part
    files, and thousands of KB-scale files per partition wreck both
    scan planning (one task per file floor) and footer-stats skipping.

    Rewrites ONLY partitions whose data-file count exceeds
    ``max_files``, to ``target_files`` files each, content-identical.
    Stage-then-swap: every compacted partition is fully written under
    ``<root>/_compact_tmp`` BEFORE any live directory is touched (a
    crash during staging leaves the table untouched; the underscore
    prefix keeps Spark's partition discovery from seeing the scratch),
    then each is swapped in with the same rmtree+rename the cascade
    maintenance uses. Returns the compacted partition names.

    At 100 TB this runs per-partition-parallel from an orchestrator;
    here it is sequential per partition but each rewrite is a
    distributed read+write. ``target_files`` sizes the rewrite
    (ceil(partition_bytes / desired_file_size) at scale).

    Crash-safe through the swap too (round-9 review fix): a ``_SWAP``
    marker is published (temp+rename) once EVERY rewrite is fully
    staged, and only then do live directories get touched. On entry,
    a surviving marker means a previous run died mid-swap — the swap
    is FINISHED from the surviving scratch (whose content is the
    correct compaction of the pre-swap live data; already-swapped
    partitions are simply gone from scratch) before any new staging
    deletes it. Without the marker, scratch is an incomplete stage and
    the live table is untouched, so dropping it is safe.

    Concurrency contract (round-10 verdict item #1): the whole
    operation runs under the table's single-writer lease
    (``tablelock.TableLock``), the SAME lock every append sink and
    one-shot append takes per epoch — a sink epoch can no longer
    commit files into a partition between compaction's stage-read and
    its rmtree+rename swap (which would silently delete rows the
    sink's commit log records as durable). ``lock_root`` names the
    root the OTHER writers lock when ``root`` is a subdirectory of the
    maintained table (IVF: ``compact_partitions(spark,
    idx + '/postings', lock_root=idx)``). As defense-in-depth against
    a writer that bypasses the lease (misconfigured lock_root), an
    EPOCH FENCE re-lists every staged partition immediately before the
    marker is published and restages any whose file set changed since
    the stage-read — a fenced partition's rewrite then reflects the
    interloper's rows instead of deleting them. ``_after_stage`` is a
    test-only hook invoked between staging and the fence."""
    import os
    import shutil

    from ..snapshots import SnapshotStore
    from ..tablelock import TableLock

    _reject_snapshot_root(root, lock_root, "compact_partitions",
                          "SnapshotStore(root).compact(spark, ...)",
                          SnapshotStore)

    scratch = os.path.join(root, "_compact_tmp")
    marker = os.path.join(scratch, "_SWAP")

    def _finish_swap() -> list[str]:
        done = []
        for d in sorted(os.listdir(scratch)):
            if "=" not in d or not os.path.isdir(os.path.join(scratch, d)):
                continue
            live = os.path.join(root, d)
            shutil.rmtree(live, ignore_errors=True)
            os.rename(os.path.join(scratch, d), live)
            done.append(d)
        shutil.rmtree(scratch, ignore_errors=True)
        return done

    def _live_files(d: str) -> "set[str]":
        p = os.path.join(root, d)
        try:
            return {f for f in os.listdir(p)
                    if f.startswith("part-") or f.startswith("epoch")}
        except FileNotFoundError:
            return set()

    def _stage(d: str) -> None:
        spark.read.parquet(os.path.join(root, d)).coalesce(
            target_files
        ).write.mode("overwrite").parquet(os.path.join(scratch, d))

    lock = TableLock(lock_root or root, owner="compact_partitions",
                     timeout=lock_timeout)
    with lock:
        recovered: list[str] = []
        if os.path.exists(marker):
            recovered = _finish_swap()  # crashed mid-swap: scratch is truth
        shutil.rmtree(scratch, ignore_errors=True)

        todo = []
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if "=" not in d or not os.path.isdir(p):
                continue
            if len(_live_files(d)) > max_files:
                todo.append(d)
        staged_from = {d: _live_files(d) for d in todo}
        for d in todo:
            _stage(d)
        if _after_stage is not None:
            _after_stage()
        if todo:
            # Epoch fence: a distributed stage can be slow; re-extend
            # the lease, then restage any partition whose live file set
            # moved under us (lock-bypassing writer) so the swap cannot
            # delete rows staged_from never saw.
            lock.refresh()
            for d in todo:
                if _live_files(d) != staged_from[d]:
                    _stage(d)
            os.makedirs(scratch, exist_ok=True)
            tmp = marker + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("staged\n")
            os.replace(tmp, marker)
            _finish_swap()
    return sorted(set(recovered) | set(todo))


def expire_partitions(root: str, keep: "set[str] | None" = None,
                      before: str | None = None,
                      col: str = "_d",
                      lock_root: str | None = None,
                      lock_timeout: float = 120.0) -> list[str]:
    """Retention for a hive-partitioned table: drop whole partition
    directories by name — the O(1)-per-partition delete that replaces
    a full-table DELETE at 100 TB (no rewrite, no scan; the reason the
    cascade/grain tables partition by day in the first place).

    Either pass ``keep`` (explicit allow-list of partition values) or
    ``before`` (drop every value lexicographically below it — correct
    for the zero-padded ``yyyy-MM-dd`` day keys). Sentinel/NULL
    partitions are never dropped by ``before`` (they don't order
    against dates); list them in neither and they survive. Returns the
    dropped partition names.

    Runs under the table's single-writer lease (round-10 verdict item
    #1) so a live append sink cannot be mid-commit into a directory as
    retention rmtree's it; ``lock_root`` follows the same rule as
    ``compact_partitions`` (lock the root the sinks lock — e.g. the
    cascade table path when ``root`` is its ``day/`` grain)."""
    import os
    import shutil

    from ..snapshots import SnapshotStore
    from ..tablelock import TableLock

    _reject_snapshot_root(root, lock_root, "expire_partitions",
                          "SnapshotStore(root).expire(keep=/before=)",
                          SnapshotStore)
    if keep is None and before is None:
        # validate up front (round-9 review fix): a root with no
        # matching partitions must not mask a forgotten keep=/before=
        # (or a misspelled col=) as 'nothing to expire'
        raise ValueError("expire_partitions needs keep= or before=")
    dropped = []
    prefix = f"{col}="
    with TableLock(lock_root or root, owner="expire_partitions",
                   timeout=lock_timeout):
        for d in sorted(os.listdir(root)):
            if not d.startswith(prefix) or not os.path.isdir(
                os.path.join(root, d)
            ):
                continue
            val = d[len(prefix):]
            if keep is not None:
                doomed = val not in keep
            else:
                # only date-shaped values order against the cutoff
                doomed = len(val) == 10 and val[4] == "-" and val < before
            if doomed:
                shutil.rmtree(os.path.join(root, d))
                dropped.append(d)
    return dropped
