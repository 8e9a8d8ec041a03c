"""Catalog: load the driver-generated star-schema parquets as views.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. ``events`` is the stream-shaped
table (batch shadow of the reference's packet stream); ``documents``
and ``embeddings`` back the LLM-pipeline operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp storage portability. Depending on how the parquet was
# written, a timestamp column arrives as one of three Spark types:
#   * TIMESTAMP(NANOS)  -> LongType (with
#     spark.sql.legacy.parquet.nanosAsLong) — floor-divide to micros,
#     matching DuckDB's truncation to microsecond TIMESTAMP.
#   * TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TimestampNTZType —
#     cast to TIMESTAMP; under the UTC session timezone
#     (session.py) this is value-identical to the naive-UTC micros
#     DuckDB reads, and it keeps unix_micros()/window() call sites
#     working (they require TIMESTAMP, not TIMESTAMP_NTZ).
#   * TIMESTAMP(MICROS, isAdjustedToUTC=true) -> TimestampType — as-is.
TIMESTAMP_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _enable_nanos_as_long(spark: SparkSession) -> None:
    # Runtime-settable; applied defensively because the driver may hand
    # us a session built without it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _enable_nanos_as_long(spark)
    # Every query path flows through here: also guarantee executors can
    # import this package (pandas UDFs pickle by module reference).
    from .bootstrap import ensure_executor_pythonpath

    ensure_executor_pythonpath(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in TIMESTAMP_COLS.get(name, ()):
        dtype = df.schema[col].dataType
        if isinstance(dtype, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif isinstance(dtype, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def arrays_barrier(df: DataFrame, keep: list, arrays: dict) -> DataFrame:
    """Materialize expensive in-row array expressions EXACTLY ONCE:
    wrap them in a single-element array-of-struct and explode it. The
    Generate node is a projection barrier — CollapseProject cannot
    inline expressions through it, so downstream columns read the
    materialized attribute instead of re-evaluating the fold.

    Why it exists: higher-order functions (transform/aggregate/filter
    lambdas) evaluate INTERPRETED — outside whole-stage codegen, with
    no common-subexpression elimination — so a fold inlined into N
    referencing columns runs N times (measured: an unstaged 8-column
    MinHash fold regressed 0.9 s -> 3.3 s at sf0.1). Staging behind
    the barrier pins single evaluation at any scale; row count is
    unchanged (one struct per row)."""
    packed = F.explode(
        F.array(F.struct(*[v.alias(k) for k, v in arrays.items()]))
    ).alias("_arr")
    out = df.select(*keep, packed)
    return out.select(*keep, *[F.col(f"_arr.{k}").alias(k) for k in arrays])


def compute_parallelism(spark: SparkSession) -> int:
    """CPU-side fan-out for narrow compute-bound stages (UDF sweeps,
    spread() redistributions): the executor core count, NOT
    ``spark.sql.shuffle.partitions``. Round 5 decoupled the two so
    exchange width can shrink — 32-task exchanges cost small
    aggregate queries ~0.1-0.3 s each in pure task scheduling — while
    crypto/decode sweeps keep every core busy (the bruteforce sweep
    measured 2.3 s -> 4.2 s when its fan-out followed the shuffle
    conf down to 12)."""
    return max(spark.sparkContext.defaultParallelism, 1)


def content_identity(sf_dir: str, df: DataFrame) -> tuple:
    """Cache key for driver-side artifacts derived from a table scan
    (history blooms, PQ codebooks, brute-force frame samples): the
    sorted input files WITH their mtimes, so a dataset regenerated
    in-place invalidates the memo — keying on the directory path alone
    would silently serve a stale artifact built from the old data."""
    import os

    def _mtime(uri: str) -> int:
        path = uri[5:] if uri.startswith("file:") else uri
        try:
            return os.stat(path).st_mtime_ns
        except OSError:
            return -1

    files = tuple(sorted(df.inputFiles()))
    return (sf_dir,) + tuple((f, _mtime(f)) for f in files)


# Split-count decisions memoized per input-file set: spread() sits on
# the hot build path of every UDF-heavy query, so it must not pay a
# per-call planning cost (an earlier version called
# df.rdd.getNumPartitions(), which converts the whole logical plan to
# an RDD driver-side on every load).
_SPREAD_CACHE: dict[tuple, bool] = {}

# Below this total input size a local[] scan is effectively one task.
_SPREAD_SMALL_BYTES = 512 << 20


def spread(df: DataFrame, width: int | None = None) -> DataFrame:
    """Redistribute a narrow scan across cores when the source layout
    under-parallelizes it (the driver testdata is one parquet file with
    ONE row group per table, so a scan - and everything narrow above it,
    including Arrow-UDF stages - runs in a single task). One tiny
    round-robin shuffle unlocks full-core parallelism for expensive
    downstream work.

    ``width`` overrides the fan-out (default: every core). Light
    per-row chains — where task scheduling + Python-worker round trips
    dominate the actual compute — measure fastest well BELOW core
    count (quarter width: the pipeline queries A/B'd 0.92 s -> 0.75 s
    at sf0.1, same optimum as llm/multimodal.perceptual_dedup_table);
    crypto/decode sweeps keep the full-width default (halving the
    bruteforce sweep's width measured 2.3 s -> 4.2 s, round 5).

    The under-split check reads the scan's file list + sizes (cheap
    FileIndex metadata, memoized per file set) — never the physical
    plan. At production scale inputs have many splits (len(files)
    alone clears the bar) and this is a no-op; non-local filesystems
    without stat access also fall through to the no-op."""
    spark = df.sparkSession
    n = width or compute_parallelism(spark)
    files = tuple(df.inputFiles())
    cache_key = (files, n)  # the under-split bar scales with the fan-out
    need = _SPREAD_CACHE.get(cache_key)
    if need is None:
        if len(files) >= max(2, n // 2):
            need = False
        else:
            import os
            from urllib.parse import urlparse

            try:
                total = sum(
                    os.path.getsize(urlparse(f).path or f) for f in files
                )
                need = total < _SPREAD_SMALL_BYTES
            except OSError:
                need = False
        _SPREAD_CACHE[cache_key] = need
    if not need:
        return df
    # Pushdown barrier above the exchange: a nondeterministic
    # always-true filter. Without it, Catalyst pushes deterministic
    # filters — substituting whatever expensive expressions they
    # reference (from_json chains, even deterministic pandas UDFs,
    # which then evaluate TWICE) — below the repartition into the scan
    # stage, and on the one-row-group layout spread() exists for, that
    # serializes the pushed work onto a single task (measured at
    # sf0.1 with the barrier: ttn_v2 2.1->1.9 s, ttn_v3 2.5->2.2 s,
    # chirpstack 3.8->3.1 s). CombineFilters/PushPredicateThroughNonJoin
    # both require the inner filter to be deterministic, so nothing
    # crosses it; row content is unaffected. At production scale
    # inputs are well-split, spread() is a no-op, and scan-level
    # pushdown behaves normally.
    #
    # Predicate choice: Spark 4.1's range-aware constant folding
    # REMOVES ``rand() >= 0`` (it knows rand ∈ [0,1)), silently
    # killing the barrier — tests/test_plans.py pins that the barrier
    # survives the optimizer. monotonically_increasing_id() is
    # nondeterministic with no folded range, and its values are
    # always >= 0 by construction (partition_id << 33 + row index),
    # so the predicate keeps every row.
    return df.repartition(n).where(F.monotonically_increasing_id() >= 0)
