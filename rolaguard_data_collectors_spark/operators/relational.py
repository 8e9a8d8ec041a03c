"""Relational surface (SURVEY.md §2B): the capability-implied batch
query operators — joins (broadcast/SMJ/semi/anti), hash aggregates,
rollup/cube/grouping sets, window functions, sorts/top-k, set ops,
pivot, exact and approximate statistics — expressed as TPC-H-style
queries over the star schema.

Scale notes (these shapes are chosen for the 100 TB case):
- every dim-side join uses an explicit broadcast() hint (region,
  nation, supplier, part, customer stay tiny relative to the facts);
- fact-fact joins (orders x lineitem) equi-join on the natural key so
  AQE can pick SMJ / shuffled hash and handle skew;
- all aggregates are partial-aggregation-friendly (sum/count/min/max)
  so the map side combines before the shuffle;
- top-k is orderBy+limit, which Spark executes as TakeOrderedAndProject
  (per-partition heap + single-reduce merge, no full sort).

Float columns in oracle-checked outputs are round()ed identically on
both sides; ORDER BY ties are broken with unique keys so LIMIT
selections are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import QuerySpec


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _sentinel_gk() -> F.Column:
    """Sentinel-coalesced l_returnflag join key: NULL group keys are
    GROUP BY groups, but equi-joins drop NULL keys — every split-
    aggregate assembly joins on this ONE expression so the NULL-group
    discipline cannot drift between sites."""
    return F.coalesce(F.col("l_returnflag"), F.lit("\x00NULL"))


# --- TPC-H Q1: pricing summary (hash aggregate, 8 aggs) ------------------

# Money sums accumulate in exact BIGINT micro-units (round-12 perf
# recovery of the round-11 DECIMAL fix): a double sum is
# non-associative, so at 10x rows Spark's partial-agg tree and
# DuckDB's single-node fold can land one cent apart across a round(2)
# boundary (q5 549463674.44 vs .43 — run-to-run flaky with AQE
# repartitioning). Round 11 fixed that with DECIMAL(18,6) summands,
# but Spark's decimal partial-agg path is interpreted-BigDecimal-heavy
# (judge A/B at sf0.1: q1 0.26 s double / 0.32 s bigint / 1.05 s
# DECIMAL). The test data's money columns are 2dp, so every summand
# here — price, price*(1-disc) (4dp), price*(1-disc)*(1+tax) (6dp) —
# is EXACT at <=6 decimal places: round(x*1e6) in double recovers the
# exact integer (double error ~1e-5 micro << the 0.5-micro grid), and
# BIGINT addition of micro-units is exact and order-independent, in
# whole-stage-codegen long adds.
#
# Overflow discipline (the 100 TB story): a BIGINT micro sum would
# wrap past 2^63 micro ~ $9.2e12 per group — unreachable at benched
# SFs but real for grand totals at sf100k. Under Spark 4's default
# ANSI mode (on in this engine's session AND the driver's vanilla
# session) both the per-row cast and the sum's add are checked —
# overflow FAILS THE QUERY LOUDLY (ARITHMETIC_OVERFLOW / CAST_OVERFLOW;
# pinned in tests/test_money_sums.py), never a silent wrap. Two
# measured-and-rejected alternates: a two-stage groupBy(keys,
# spark_partition_id()) bigint -> DECIMAL(38,0) merge is wrap-free by
# construction but +0.1-0.15 s/query at sf0.1 for the extra exchange;
# a shadow-double-sum assert_true guard costs the same and can never
# fire before ANSI's own check. A non-ANSI deployment at sf100k+
# should use the two-stage widening — the loud ANSI error message
# itself says so. The final dollars value divides in DECIMAL
# (decimal(38,0)/decimal(7,0) -> decimal(38,6), exact for 6dp
# quotients) and rounds HALF_UP — no double anywhere near a tie.
# Oracle mirror: DuckDB's DECIMAL/int division silently returns
# DOUBLE (measured: round(123456789012345000::DEC(38,0)/1e6, 2) gives
# .34, exact is .35), so the SQL side uses exact HUGEINT integer
# division instead: ((sum + 5000) // 10000) / 100.0 — identical
# half-up-at-2dp semantics for the non-negative sums used here.


def _micro(col):
    """Exact BIGINT micro-unit summand for a <=6dp-exact money
    expression computed in double.

    ``cast(y + 0.5 as bigint)`` (truncation toward zero after adding
    half), NOT ``round(y)``: Spark's Round on DoubleType allocates a
    java.math.BigDecimal per row in codegen, and with 6 money
    aggregates per row that one expression dominated the q1 scan
    stage (optimization round 13, sf0.1 A/B on the identical
    aggregate set: round 1.21 s / this form 0.44 s; per-row equality
    sweep over all six lineitem money expressions: 0 mismatches).
    Equivalence argument, not just measurement: the design already
    requires every summand to be <=6dp-exact, so y = col*1e6 always
    lies within ~1e-4 of an integer i (double error ~y*2^-52, far
    below the 0.5 grid) and y is non-negative; then trunc(y + 0.5) =
    i = HALF_UP(y) — the two forms can only disagree when frac(y)
    lands within ~1 ulp of 0.5, which the 6dp-exactness contract
    excludes by two orders of magnitude. ANSI cast keeps the loud
    overflow behavior (tests/test_money_sums.py)."""
    return (col * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")


def _dollars(sum_micro_dec, scale=2):
    """Exact DECIMAL(38,0) micro total -> HALF_UP-rounded double
    dollars (decimal division + decimal round; no double ties)."""
    return F.round(
        sum_micro_dec / F.lit(1000000).cast("decimal(7,0)"), scale
    ).cast("double")


def _msum(col, scale=2):
    """Single-stage exact money sum -> rounded double dollars; ANSI
    makes any 2^63 micro wrap fail loudly (see the overflow-discipline
    note above)."""
    return _dollars(F.sum(_micro(col)).cast("decimal(38,0)"), scale)


def _mavg(col, n):
    """Order-independent average from the exact micro sum, mirrored
    operand-for-operand in the oracle (_avg_sql)."""
    return F.round(
        F.sum(_micro(col)).cast("double") / F.lit(1000000.0) / n, 4
    )


def _micro_sum_sql(expr: str, scale: int = 2) -> str:
    """Oracle twin of _msum (_micro + _dollars): exact HUGEINT sum of micro
    summands, half-up integer division to `scale` dp (non-negative
    sums), back to double."""
    q = 10 ** (6 - scale)
    return (
        f"CAST((sum(CAST(round(({expr}) * 1000000) AS BIGINT)) + {q // 2}) "
        f"// {q} AS DOUBLE) / {10 ** scale}"
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    n = F.count("*")
    # avgs derive from the SAME exact micro sums (order-independent;
    # ADVICE r11: double avg partials were the remaining
    # non-associative leg): round(double(exact_sum)/1e6/n, 4),
    # mirrored operand-for-operand in the oracle (_avg_sql) so both
    # engines round the identical double.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _msum(F.col("l_quantity")).alias("sum_qty"),
            _msum(F.col("l_extendedprice")).alias("sum_base_price"),
            _msum(disc_price).alias("sum_disc_price"),
            _msum(charge).alias("sum_charge"),
            _mavg(F.col("l_quantity"), n).alias("avg_qty"),
            _mavg(F.col("l_extendedprice"), n).alias("avg_price"),
            _mavg(F.col("l_discount"), n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def _avg_sql(expr: str) -> str:
    """Oracle twin of q1's _avg: exact hugeint micro sum -> the same
    double division chain Spark runs."""
    return (
        f"round(CAST(sum(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000.0 / count(*), 4)"
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_micro_sum_sql('l_quantity')} AS sum_qty,
       {_micro_sum_sql('l_extendedprice')} AS sum_base_price,
       {_micro_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_micro_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_avg_sql('l_quantity')} AS avg_qty,
       {_avg_sql('l_extendedprice')} AS avg_price,
       {_avg_sql('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- TPC-H Q3-like: shipping priority (join + agg + top-k) ---------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # Per-ORDER groups are bounded (<= ~7 lineitems x 1e11 micro <<
    # 2^63 at ANY scale factor) — this sum cannot wrap at any SF.
    #
    # Aggregate-before-join (optimization round 13, guide §2.3): the
    # per-order revenue depends only on lineitem, and every filter
    # (BUILDING segment) is per-order, so summing first and joining
    # the 1-row-per-order aggregate is row-for-row identical to
    # joining first (orders/customer are unique on their keys — no
    # fan-out — and dropping an order before or after its sum is the
    # same set). The fact-table stage now does a narrow long-key
    # partial aggregate instead of probing two broadcast hash maps
    # per lineitem, and at scale the orderkey exchange carries
    # ~4x-combined aggregate rows instead of raw lineitems (the
    # broadcast of orders only exists at bench SFs; a cluster plan
    # shuffles the fact side, so shrinking it map-side is the win).
    # A/B at sf0.1 (same session, min of 4): 0.553 -> 0.439 s,
    # collect()-identical.
    return (
        li.groupBy("l_orderkey")
        .agg(_msum(revenue).alias("revenue"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_micro_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- TPC-H Q5-like: local supplier volume (5-way join) -------------------


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(_msum(revenue).alias("revenue"))
    )


Q5_ORACLE = f"""
SELECT n_name, r_name,
       {_micro_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


# --- outer / semi / anti joins -------------------------------------------


def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (null-safe
    count of the right side)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


JOIN_LEFT_OUTER_ORACLE = """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# --- broadcast dim join --------------------------------------------------


def broadcast_part_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x broadcast(dim): no shuffle of lineitem; the part table is
    replicated to every executor (correct call at 100 TB — part grows
    with SF but stays orders of magnitude below lineitem; AQE would
    also pick broadcast under the threshold)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


BROADCAST_PART_ORACLE = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(p_retailprice), 4) AS avg_retail
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- rollup / cube / grouping sets --------------------------------------


def _exact_base(df, keys, money_col):
    """Finest-grain exact aggregate for rollup/cube: ONE codegen hash
    agg over the facts (bigint micro sums + counts) — no grouping-set
    Expand multiplying the fact rows — then the grouping-set expansion
    runs over the #groups-row result in exact DECIMAL (sums of exact
    per-group sums; the cascade layer's rollup convention applied to
    the analytic surface). Measured: direct rollup's 3x Expand over
    lineitem cost ~2x this shape at sf0.1."""
    return df.groupBy(*keys).agg(
        F.sum(_micro(money_col)).cast("decimal(38,0)").alias("p_m"),
        F.count("*").alias("base_n"),
    )


def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = _exact_base(li, ["l_returnflag", "l_linestatus"], F.col("l_quantity"))
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("base_n").alias("n"),
             _dollars(F.sum("p_m")).alias("sum_qty"))
    )


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    base = _exact_base(orders, ["o_orderstatus", "o_orderpriority"],
                       F.col("o_totalprice"))
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(F.sum("base_n").alias("n"),
             _dollars(F.sum("p_m")).alias("total"))
    )


def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# --- sort / top-k --------------------------------------------------------


def topk_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10: Spark plans TakeOrderedAndProject (heap per
    partition + single merge), not a full sort — the right shape at
    any scale."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "o_orderpriority")
    )


TOPK_GLOBAL_ORACLE = """
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# --- set operations ------------------------------------------------------


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct set semantics) over the
    nation keys reachable from customers vs suppliers, tagged by op."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    union = cust.union(supp).distinct().withColumn("op", F.lit("union"))
    inter = cust.intersect(supp).withColumn("op", F.lit("intersect"))
    minus = cust.subtract(supp).withColumn("op", F.lit("except"))  # EXCEPT DISTINCT
    return union.unionByName(inter).unionByName(minus)


SET_OPS_ORACLE = """
SELECT nationkey, 'union' AS op FROM (
  SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'intersect' AS op FROM (
  SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'except' AS op FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT SELECT s_nationkey FROM supplier)
"""


# --- distinct aggregates -------------------------------------------------


def distinct_counts(
    spark: SparkSession, sf_dir: str, li: DataFrame | None = None
) -> DataFrame:
    """Multi-distinct counts as SEPARATE aggregates joined on the tiny
    group key: two countDistincts in one agg plan an Expand that
    triples every input row across the shuffle (the approx_aggregates
    19s->3.9s lesson). Each split leg scans a 2-column pruned
    projection and partial-combines map-side (0.60s -> 0.42s for the
    composed pivot query at sf0.1). ``li`` lets a composing query pass
    a staged (checkpointed) projection so the legs share one scan."""
    if li is None:
        li = _t(spark, sf_dir, "lineitem")
    # NULL discipline so the split form stays row-identical to the
    # single GROUP BY + count(DISTINCT) the oracle runs: (a) a NULL
    # group key is still a group — equi-joins drop NULL keys, so join
    # on a sentinel-coalesced key; (b) count(DISTINCT x) ignores NULL
    # x — filter before distinct; (c) anchor on the count(*) leg
    # (which sees every group) with LEFT joins + zero-coalesce, since
    # an all-NULL-measure group must still emit with 0. Latent on
    # NULL-free TPC-H data, load-bearing on anything else.
    gk = _sentinel_gk().alias("_gk")
    rows = li.groupBy("l_returnflag").agg(F.count("*").alias("n_rows")).select(
        "l_returnflag", "n_rows", gk
    )
    parts = (
        li.where(F.col("l_partkey").isNotNull())
        .select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
        .select("n_parts", gk)
    )
    supps = (
        li.where(F.col("l_suppkey").isNotNull())
        .select("l_returnflag", "l_suppkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_supps"))
        .select("n_supps", gk)
    )
    return (
        rows.join(parts, "_gk", "left")
        .join(supps, "_gk", "left")
        .select(
            "l_returnflag",
            F.coalesce("n_parts", F.lit(0)).alias("n_parts"),
            F.coalesce("n_supps", F.lit(0)).alias("n_supps"),
            "n_rows",
        )
    )


# --- pivot ---------------------------------------------------------------


def pivot_linestatus(
    spark: SparkSession, sf_dir: str, li: DataFrame | None = None
) -> DataFrame:
    if li is None:
        li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


# --- exact percentiles ---------------------------------------------------


def counting_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fractions: list[float],
    out_names: list[str],
) -> DataFrame:
    """Exact interpolated percentiles (SQL percentile / quantile_cont
    semantics: index k = p*(n-1) over the sorted multiset, linear
    interpolation between floor/ceil neighbors) computed WITHOUT
    buffering values.

    Spark's ``percentile`` aggregate holds every (value, count) of a
    group in an executor-memory map — at 100 TB / few groups that is
    an OOM, and even at bench scale its boxed updates dominate
    (measured 1.2 s vs 0.5 s at sf0.1). This operator is the scale
    path: rank rows inside each group with a SORT-BASED window
    (row_number — the sort spills, and the single-row frame never
    buffers the partition in a hash map), then a tiny final agg picks
    the two bracketing order statistics and interpolates. Every stage
    is whole-stage-codegen arithmetic with bounded memory.

    Round 5: a (group, value) pre-dedup before the window was measured
    and REMOVED — it halved neither shuffle bytes nor sort cost on
    realistic near-unique values but added a full hash-agg pass
    (1.29 s vs 0.75 s at sf0.1). Under heavy value duplication the
    dedup shrinks the window's input, but the window's spillable sort
    keeps memory bounded either way, so the extra pass only pays for
    itself when duplicates dominate. Tie order inside the sort is
    arbitrary yet the VALUE at any rank is deterministic, so the
    output is stable under any partitioning.

    Parallelism caveat: the window fans in to ONE task per group — the
    right trade when groups are plentiful. With FEW groups over a big
    fact table, use ``histogram_percentiles`` below: identical answers
    (property-pinned in tests/test_property_new_ops.py), every heavy
    stage at scan parallelism."""
    raw = df.select(group_col, value_col).where(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(value_col)
    wall = Window.partitionBy(group_col)
    ranked = raw.select(
        group_col,
        value_col,
        F.row_number().over(w).alias("_i"),
        F.count("*").over(wall).alias("_n"),
    )
    aggs, outs = [], [F.col(group_col)]
    for p, name in zip(fractions, out_names):
        # 1-indexed bracketing positions of the k = p*(n-1) index (all
        # row-level arithmetic — _n is constant within a group, so the
        # interpolation weight aggregates with max()).
        k = F.lit(p) * (F.col("_n") - 1)
        i_lo = F.floor(k) + 1
        i_hi = i_lo + 1
        aggs.append(F.max(F.when(F.col("_i") == i_lo, F.col(value_col))).alias(f"_{name}_lo"))
        aggs.append(F.max(F.when(F.col("_i") == i_hi, F.col(value_col))).alias(f"_{name}_hi"))
        aggs.append(F.max(k - F.floor(k)).alias(f"_{name}_w"))
        lo, hi, wgt = (F.col(f"_{name}_lo"), F.col(f"_{name}_hi"), F.col(f"_{name}_w"))
        outs.append((lo + wgt * (F.coalesce(hi, lo) - lo)).alias(name))
    return ranked.groupBy(group_col).agg(*aggs).select(*outs)


def histogram_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fractions: list[float],
    out_names: list[str],
    bucket_width: float = 512.0,
) -> DataFrame:
    """Exact interpolated percentiles (same quantile_cont semantics as
    ``counting_percentiles``) via HISTOGRAM PRUNING — the scale path
    when groups are FEW: the sort-window form's parallelism equals the
    group count (3 l_returnflag groups = 3 tasks sorting the whole
    fact table; at 100 TB that is the bottleneck stage), while here
    every heavy stage runs at scan parallelism:

    1. bucket counts: ``floor(value / W)`` + hash aggregate — pure
       whole-stage-codegen arithmetic, map-side partial-combined.
    2. per-group bucket offsets: one window over the TINY
       (group, bucket, count) frame (rows = distinct non-empty
       buckets, not data rows).
    3. bracket buckets only — the <=2·|fractions| buckets per group
       whose offset range contains a needed order statistic — are
       broadcast back; ONLY their rows (a ~1/buckets fraction of the
       data) take the local rank window, partitioned by
       (group, bucket), i.e. fully parallel.

    The bucket id is weakly monotonic in the value (ties share a
    bucket; the |value| <= 1e15 clamp only merges extreme outliers
    into the edge buckets, where the local sort still orders them
    exactly), so the value at any global rank is identical to the
    full-sort answer. NULL group keys are groups: the broadcast
    join runs on a sentinel-coalesced key, the final aggregate on the
    raw (nullable) group column."""
    from functools import reduce as _reduce
    from operator import or_ as _or

    v = F.col(value_col).cast("double")
    b = F.floor(
        F.greatest(F.least(v, F.lit(1e15)), F.lit(-1e15)) / F.lit(float(bucket_width))
    )
    gkey = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00NULL"))
    rows = (
        df.select(F.col(group_col), v.alias("_v"), b.alias("_b"), gkey.alias("_hgk"))
        .where(v.isNotNull())
    )
    bc = rows.groupBy("_hgk", "_b").agg(F.count("*").alias("_c"))
    woff = Window.partitionBy("_hgk").orderBy("_b")
    offs = bc.select(
        "_hgk",
        "_b",
        "_c",
        (F.sum("_c").over(woff) - F.col("_c")).alias("_off"),
        F.sum("_c").over(Window.partitionBy("_hgk")).alias("_hn"),
    )
    conds = []
    for p in fractions:
        k = F.lit(p) * (F.col("_hn") - 1)
        i_lo = F.floor(k) + 1
        for idx in (i_lo, i_lo + 1):
            conds.append(
                (idx > F.col("_off")) & (idx <= F.col("_off") + F.col("_c"))
            )
    needed = offs.where(_reduce(_or, conds)).select("_hgk", "_b", "_off", "_hn")
    j = rows.join(F.broadcast(needed), ["_hgk", "_b"])
    wloc = Window.partitionBy("_hgk", "_b").orderBy("_v")
    ranked = j.select(
        F.col(group_col),
        "_v",
        "_hn",
        (F.col("_off") + F.row_number().over(wloc)).alias("_i"),
    )
    aggs, outs = [], [F.col(group_col)]
    for p, name in zip(fractions, out_names):
        k = F.lit(p) * (F.col("_hn") - 1)
        i_lo = F.floor(k) + 1
        aggs.append(F.max(F.when(F.col("_i") == i_lo, F.col("_v"))).alias(f"_{name}_lo"))
        aggs.append(F.max(F.when(F.col("_i") == i_lo + 1, F.col("_v"))).alias(f"_{name}_hi"))
        aggs.append(F.max(k - F.floor(k)).alias(f"_{name}_w"))
        lo, hi, wgt = (F.col(f"_{name}_lo"), F.col(f"_{name}_hi"), F.col(f"_{name}_w"))
        outs.append((lo + wgt * (F.coalesce(hi, lo) - lo)).alias(name))
    return ranked.groupBy(group_col).agg(*aggs).select(*outs)


def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered on the histogram-pruned form: lineitem has 3
    l_returnflag groups, exactly the few-groups regime where the
    sort-window form (counting_percentiles) serializes to 3 tasks —
    measured 0.74 vs 0.60 s at sf0.1, value-identical (the two forms
    are property-pinned equal in tests/test_property_new_ops.py)."""
    li = _t(spark, sf_dir, "lineitem")
    pct = histogram_percentiles(
        li, "l_returnflag", "l_extendedprice",
        [0.25, 0.5, 0.75], ["_p25", "_p50", "_p75"],
    )
    return pct.select(
        "l_returnflag",
        F.round("_p25", 4).alias("p25"),
        F.round("_p50", 4).alias("p50"),
        F.round("_p75", 4).alias("p75"),
    )


EXACT_PERCENTILES_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
FROM lineitem GROUP BY l_returnflag
"""


# --- approximate aggregates (rows-only: sketch values are
# engine-specific by design) ---------------------------------------------


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct + approximate percentile — the scale path
    for 100 TB statistics (no exact distinct shuffle).

    The raw sketch estimates are engine-specific (DuckDB's HLL/quantile
    families differ), so they can't hash-match an oracle. Instead the
    output carries the exact values PLUS in-bounds booleans for the
    sketches (round-4 hardening): |approx-exact|/exact <= 5% for the
    rsd=0.02 HLL, and the approx median landing inside the exact
    [p49, p51] band for the accuracy=1000 quantile sketch. Every
    output column is deterministic, so the driver verifies rows +
    schema + hash — the sketches are checked via their error
    contracts, which is the strongest cross-engine statement an
    approximate operator supports."""
    # Stage the 3-column measure projection ONCE (lazy localCheckpoint,
    # the staged-table discipline of tfidf/banded/DSIR): the three legs
    # below each re-ran the parquet scan+project in the static plan —
    # 0.87 -> 0.74 s at sf0.1, value-identical. At scale this is the
    # "materialize the measure table before fan-out" step any
    # multi-statistic pass does; each leg still aggregates at scan
    # parallelism.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_partkey", "l_extendedprice")
        .localCheckpoint(eager=False)
    )
    # Round 7 shape — three legs, every heavy stage at SCAN parallelism
    # (the measured history is the point):
    #   - r4: one combined groupBy with countDistinct — Expand
    #     multiplies rows under every aggregate, 19 s at sf0.1.
    #   - r6: split into base + exact-distinct + sort-window
    #     percentiles, 3 scans / 6 exchanges — 0.77 s.
    #   - r7 A/B: a true single-pass (everything over one group-key
    #     window exchange) measured 1.73 s, and a two-leg variant
    #     1.32 s — with 3 group keys the window stage runs 3 tasks,
    #     and any sketch/window work placed there serializes. The
    #     bottleneck is never the scan count; it is per-row work done
    #     at 3-way parallelism.
    #   - r7 final: sketches partial-aggregate map-side (32-way);
    #     exact distinct is hash-agg dedup then count (map-side
    #     combine, no Expand, no window); exact percentile brackets
    #     come from histogram_percentiles, whose only per-row work is
    #     floor-divide + hash agg and whose rank window touches ONLY
    #     the bracket buckets (fully parallel) — see its docstring for
    #     why this is also the 100-TB-correct plan when groups are few.
    # NULL discipline (pinned by tests/test_parity_fuzz.py): NULL
    # group keys are groups (sentinel-coalesced join key); NULL
    # measure keys filtered before distinct; base anchors with LEFT
    # joins + zero-coalesce.
    # rsd 0.02 (round-7 sweep over {0.015, 0.02, 0.023, 0.03, 0.04} at
    # every SF): per-row HLL update cost falls off a cliff below p=13
    # registers — the rsd=0.015 sketch measured +0.29 s at sf0.1 over
    # the same aggregate without it, rsd=0.02 +0.13 s — while observed
    # worst error only moves 2.17% -> 1.03% of the 5% certificate
    # bound (HLL error is deterministic for a given dataset; rsd=0.03
    # measured 4.39% — no margin — and 0.04 breaches at 7.43%).
    # percentile_approx accuracy 1000 (not 10000): the certificate
    # only requires the estimate inside the exact [p49, p51] bracket,
    # i.e. rank error < 1%; accuracy 1000 bounds rank error at 0.1%
    # with a 10x smaller QuantileSummaries insert cost (-0.04 s).
    gk = _sentinel_gk().alias("_gk")
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("l_extendedprice"), 2).alias("exact_min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("exact_max_price"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_approx_median"),
    ).select("*", gk)
    exact_distinct = (
        li.where(F.col("l_partkey").isNotNull())
        .select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_parts"))
        .select("exact_parts", gk)
    )
    pct = histogram_percentiles(
        li, "l_returnflag", "l_extendedprice",
        [0.49, 0.5, 0.51], ["_p49", "_p50", "_p51"],
    ).select("_p49", "_p50", "_p51", gk)
    agg = base.join(exact_distinct, "_gk", "left").join(pct, "_gk", "left")
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_min_price",
        "exact_max_price",
        F.coalesce("exact_parts", F.lit(0)).alias("exact_parts"),
        # The sketch certificates are statements about behavior at
        # scale; below 100 rows they are vacuously true (a 2-row
        # group's interpolated [p49, p51] band contains no actual data
        # value, so a rank-returning approx median honestly misses it,
        # and an all-NULL-key group makes the relative-error test
        # divide by zero). The oracle emits TRUE unconditionally — the
        # contract is that Spark's sketches MEET the bound wherever it
        # is meaningful.
        # vacuity = "the certificate is not meaningful": under 100
        # rows, OR no non-NULL measure values at all (an all-NULL-
        # partkey group counts 0 distincts and the relative-error test
        # would divide by zero; an all-NULL-price group leaves the
        # brackets NULL) — when() short-circuits those to True
        # explicitly.
        F.when(
            (F.col("n_rows") < 100) | F.col("exact_parts").isNull(), True
        ).otherwise(
            F.abs(F.col("_approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.05
        ).alias("parts_within_5pct"),
        F.round(F.col("_p50"), 4).alias("exact_median"),
        F.when(
            (F.col("n_rows") < 100) | F.col("_p49").isNull(), True
        ).otherwise(
            (F.col("_approx_median") >= F.col("_p49"))
            & (F.col("_approx_median") <= F.col("_p51"))
        ).alias("median_within_1pctile"),
    )


APPROX_AGGREGATES_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(min(l_extendedprice), 2) AS exact_min_price,
       round(max(l_extendedprice), 2) AS exact_max_price,
       count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS parts_within_5pct,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
       TRUE AS median_within_1pctile
FROM lineitem GROUP BY l_returnflag
"""


# --- as-of join (guide-named custom operator Spark lacks natively) --------


def asof_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, its latest lineitem shipped at or
    before o_orderdate + 90 days (key equi-join + range predicate +
    top-1 per key). Spark has no native ASOF JOIN; the scalable
    expansion is the equi-join on the key (co-locates per-key data —
    bucketing/broadcast applies as for any equi-join) with the range
    filter in the join condition, then the per-key top-1 as a
    STRUCT-MAX aggregate rather than a row_number window: the hash
    aggregate partial-combines map-side, so only one candidate row per
    key crosses the shuffle — the window form ships EVERY matched row
    and sorts it (A/B at sf0.1: 1.18 vs 1.36 s; the gap widens with
    match fan-out). Struct field order (shipdate, linenumber, price)
    is the tie-break order; unmatched orders keep null fields (the
    when() guard keeps all-null candidates out of max)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # merge hint: under the session's 64 MB auto-broadcast threshold
    # the planner broadcasts LINEITEM (the fact side!) at bench scale —
    # hashing 600k rows through the driver measured 1.07 s vs 0.51 s
    # for the shuffled sort-merge join. At 100 TB the size check would
    # never broadcast a fact table, so the hint pins the plan the
    # cluster would run: co-partitioned spillable sorts, and the
    # downstream per-key aggregate reuses the join's partitioning.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linenumber", "l_extendedprice"
    ).hint("merge")
    j = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left",
    )
    best = F.max(
        F.when(
            F.col("l_shipdate").isNotNull(),
            F.struct("l_shipdate", "l_linenumber", "l_extendedprice"),
        )
    ).alias("_best")
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(best)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("_best.l_shipdate").alias("asof_shipdate"),
            F.col("_best.l_linenumber").alias("asof_linenumber"),
            F.round("_best.l_extendedprice", 2).alias("asof_price"),
        )
    )


ASOF_JOIN_ORACLE = """
SELECT o_orderkey, o_orderdate, l_shipdate AS asof_shipdate,
       l_linenumber AS asof_linenumber,
       round(l_extendedprice, 2) AS asof_price
FROM (
  SELECT o.o_orderkey, o.o_orderdate, l.l_shipdate, l.l_linenumber,
         l.l_extendedprice,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY l.l_shipdate DESC NULLS LAST,
                    l.l_linenumber DESC NULLS LAST,
                    l.l_extendedprice DESC NULLS LAST) AS rn
  FROM orders o LEFT JOIN lineitem l
    ON o.o_orderkey = l.l_orderkey
   AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
)
WHERE rn = 1
"""


# --- compound queries (registry consolidation, round 2) ------------------
#
# The driver's correctness gate checks a bounded window of registry
# entries; the fine-grained single-operator demos above are registered
# as tagged unions / joined compounds so every physical operator class
# still gets a driver-checked row. Component builders stay exported
# for tests and .explain audits.


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) in one tagged
    union. Both sides probe orders with no row multiplication."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    orders = _t(spark, sf_dir, "orders")
    semi = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .withColumn("op", F.lit("semi"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .withColumn("op", F.lit("anti"))
    )
    return semi.unionByName(anti)


JOIN_SEMI_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment, 'semi' AS op
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, c_name, c_mktsegment, 'anti' AS op
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS in one tagged union (each branch
    is its own partial-aggregating expand+hash-agg; the union is
    plan-level concatenation, no extra shuffle)."""
    roll = rollup_returnflag_status(spark, sf_dir).select(
        F.lit("rollup").alias("gset"),
        F.col("l_returnflag").alias("key1"),
        F.col("l_linestatus").alias("key2"),
        "n",
        F.col("sum_qty").alias("agg_val"),
    )
    cube = cube_status_priority(spark, sf_dir).select(
        F.lit("cube").alias("gset"),
        F.col("o_orderstatus").alias("key1"),
        F.col("o_orderpriority").alias("key2"),
        "n",
        F.col("total").alias("agg_val"),
    )
    gsets = grouping_sets_mixed(spark, sf_dir).select(
        F.lit("gsets").alias("gset"),
        F.col("l_returnflag").alias("key1"),
        F.col("l_linestatus").alias("key2"),
        "n",
        F.lit(None).cast("double").alias("agg_val"),
    )
    return roll.unionByName(cube).unionByName(gsets)


GROUPING_ANALYTICS_ORACLE = f"""
SELECT 'rollup' AS gset, l_returnflag AS key1, l_linestatus AS key2,
       count(*) AS n,
       {_micro_sum_sql('l_quantity')} AS agg_val
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS gset, o_orderstatus AS key1, o_orderpriority AS key2,
       count(*) AS n,
       {_micro_sum_sql('o_totalprice')} AS agg_val
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets' AS gset, l_returnflag AS key1, l_linestatus AS key2,
       count(*) AS n, CAST(NULL AS DOUBLE) AS agg_val
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


def window_functions_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number ranking, lag delta, and a running rows-frame sum over
    orders in one pass — one partitionBy(o_custkey) hash shuffle feeds
    all three window specs (Catalyst groups same-partitioning windows
    into adjacent Window nodes; no second shuffle)."""
    orders = _t(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w_seq), 2).alias(
            "price_delta"
        ),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
    )


WINDOW_COMBO_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn,
       round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey), 2) AS price_delta,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def pivot_distinct_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot() and multi-distinct aggregates joined on the group key
    (two tiny agg outputs, broadcast join). Joined on the sentinel-
    coalesced key: a NULL l_returnflag is a GROUP BY group the oracle
    emits, but a plain equi-join here dropped it (caught by
    tests/test_parity_fuzz.py)."""
    gk = _sentinel_gk()
    # Stage the 5-column projection once (lazy localCheckpoint): the
    # pivot leg and the three distinct_counts legs each re-ran the
    # lineitem scan in the static plan — 4 scans -> 1 materialization
    # shared by all four aggregates.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_partkey", "l_suppkey",
        )
        .localCheckpoint(eager=False)
    )
    piv = pivot_linestatus(spark, sf_dir, li=li).withColumn("_gk", gk)
    dc = distinct_counts(spark, sf_dir, li=li).withColumn("_gk", gk).drop(
        "l_returnflag"
    )
    return (
        piv.join(F.broadcast(dc), "_gk")
        .drop("_gk")
        .select("l_returnflag", "O", "F", "n_parts", "n_supps", "n_rows")
    )


PIVOT_DISTINCT_ORACLE = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/date builtin surface in one projection over orders
    (all JVM-side Catalyst expressions, whole-stage codegen'd).
    Supersedes the separate part-table string demo + orders date
    demo."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_head"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
        (F.col("o_orderkey") % 5).alias("key_mod"),
        F.abs(F.col("o_totalprice") - 100000).alias("price_dist"),
        # *2 is exact in binary floating point; *1.1 lands on half-way
        # rounding cases where Spark (HALF_UP) and other engines differ
        F.round(F.col("o_totalprice") * 2, 2).alias("price_up"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("price_floor"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("closed")).alias(
            "status_or_closed"
        ),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
    )


FUNCTION_SHOWCASE_ORACLE = """
SELECT o_orderkey,
       upper(o_orderpriority) AS prio_upper,
       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
       substr(o_orderpriority, 1, 1) AS prio_head,
       concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
       trim('  x  ') AS trimmed,
       o_orderkey % 5 AS key_mod,
       abs(o_totalprice - 100000) AS price_dist,
       round(o_totalprice * 2, 2) AS price_up,
       greatest(o_totalprice, 50000.0) AS price_floor,
       coalesce(nullif(o_orderstatus, 'O'), 'closed') AS status_or_closed,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(day(o_orderdate) AS INTEGER) AS d,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       o_orderdate + INTERVAL 30 DAY AS plus30
FROM orders
"""


QUERIES = [
    QuerySpec("asof_join_orders_lineitem", asof_join_orders_lineitem,
              ASOF_JOIN_ORACLE, "as-of join: key + range + top-1 per key"),
    QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE, "TPC-H Q1 hash agg"),
    QuerySpec("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE, "join+agg+topk"),
    QuerySpec("q5_local_supplier_volume", q5_local_supplier_volume, Q5_ORACLE, "5-way join"),
    QuerySpec("join_semi_anti", join_semi_anti, JOIN_SEMI_ANTI_ORACLE,
              "left semi + left anti (tagged union)"),
    QuerySpec("join_left_outer_order_counts", join_left_outer_order_counts,
              JOIN_LEFT_OUTER_ORACLE, "left outer + null-safe count"),
    QuerySpec("broadcast_part_join", broadcast_part_join, BROADCAST_PART_ORACLE,
              "broadcast dim join"),
    QuerySpec("grouping_analytics", grouping_analytics, GROUPING_ANALYTICS_ORACLE,
              "rollup + cube + grouping sets (tagged union)"),
    QuerySpec("window_functions_combo", window_functions_combo, WINDOW_COMBO_ORACLE,
              "row_number + lag + running frame in one pass"),
    QuerySpec("topk_global_orders", topk_global_orders, TOPK_GLOBAL_ORACLE,
              "global top-k"),
    QuerySpec("set_ops_nations", set_ops_nations, SET_OPS_ORACLE, "union/intersect/except"),
    QuerySpec("pivot_distinct_summary", pivot_distinct_summary, PIVOT_DISTINCT_ORACLE,
              "pivot + multi distinct agg"),
    QuerySpec("function_showcase", function_showcase, FUNCTION_SHOWCASE_ORACLE,
              "string/math/date builtins"),
    QuerySpec("exact_percentiles", exact_percentiles, EXACT_PERCENTILES_ORACLE,
              "exact quantiles"),
    QuerySpec("approx_aggregates", approx_aggregates, APPROX_AGGREGATES_ORACLE,
              "HLL++/approx percentile, verified via error-bound contracts"),
]
