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
