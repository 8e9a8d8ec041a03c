"""Physical-plan regression suite over the whole query registry.

Correctness is gated by the DuckDB oracle; this file gates the PLAN —
the properties that decide whether a query survives a 100 TB / 1000-
executor scale-up rather than merely passing at sf0.001:

* no ``CartesianProduct`` anywhere (every intentional cross join in the
  repo broadcasts its small side, which lowers to
  BroadcastNestedLoopJoin);
* no row-at-a-time Python UDF (``BatchEvalPython``) in any hot path —
  Python only ever enters a plan through Arrow (``ArrowEvalPython``,
  ``MapInPandas``, ``FlatMapGroupsInPandas``);
* star-schema joins broadcast their dimension side instead of
  shuffling the fact table;
* filters and projections reach the parquet scan (PushedFilters /
  pruned ReadSchema) so a cluster reads the bytes the query needs,
  not the table.

Plans are compiled only (``explainString``), never executed, so the
whole registry is checked in seconds.
"""

from __future__ import annotations

import os

import pytest

from rolaguard_data_collectors_spark.registry import collect_all

SPECS = collect_all()


def _plan(spark, sf_dir, name, mode="formatted"):
    df = SPECS[name].build(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_cartesian_and_no_row_python(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def _window_toplevel_groups(line: str) -> list[str]:
    """Top-level ``[...]`` groups of a physical Window node line.
    3 groups = [exprs], [partitionSpec], [orderSpec] — partitioned.
    2 groups is ambiguous: [exprs], [partitionSpec] for an UNORDERED
    partitioned window (no ASC/DESC in the second group), or
    [exprs], [orderSpec] for a partition-LESS ordered window (every
    element carries ASC/DESC) — the single-reducer shape."""
    groups, depth, cur = [], 0, ""
    for ch in line[line.index("Window [") + len("Window ") :]:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


# Partition-less windows whose input is PROVABLY bounded by a constant
# (never by data size) — each entry documents the bound:
#   tfidf_top_terms: heavy_hitters ranks its CONFIRMED Misra-Gries
#   candidate frame (<= counters survivors per input partition, then
#   distinct + groupBy) — rows are bounded by the counters constant x
#   parallelism, independent of corpus size. Appears twice: the strict
#   exactness guard recomputes the ranked subtree for its 1-row stats
#   aggregate.
_PARTITIONLESS_WINDOW_ALLOWANCE = {"tfidf_top_terms": 2}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_partitionless_window(spark, sf_dir, name):
    """No registered plan may funnel data rows through a partition-less
    Window (one reducer for the whole input at 100 TB). The ONE
    sanctioned shape is the bucket-offset idiom (histogram_percentiles,
    dsir_importance): a window over an already-aggregated bucket-count
    frame — O(buckets) rows — ordered by a ``_b*``-prefixed bucket
    column. Anything else fails here before the driver ever sees it,
    unless the query has an explicit constant-bound allowance above."""
    plan = _plan(spark, sf_dir, name, mode="simple")
    allowance = _PARTITIONLESS_WINDOW_ALLOWANCE.get(name, 0)
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        groups = _window_toplevel_groups(line)
        if len(groups) >= 3:
            continue  # partitioned (with an order spec)
        last = groups[-1] if groups else ""
        if last.strip() and " ASC" not in last and " DESC" not in last:
            continue  # partitioned, unordered frame
        order_cols = [c.strip() for c in last.split(",") if c.strip()]
        if order_cols and all(c.startswith("_b") or c.startswith("_hb")
                              for c in order_cols):
            continue  # bucket-offset idiom
        allowance -= 1
        assert allowance >= 0, (
            f"{name}: partition-less Window outside the bucket-offset "
            f"idiom and beyond the documented allowance\n{line.strip()}"
        )


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "broadcast_part_join"],
)
def test_star_joins_broadcast_dimensions(spark, sf_dir, name):
    """The dim side of every fact join must ship to executors, not
    shuffle the fact table (SURVEY.md §4: the reference has no join
    planner at all; Catalyst + an explicit broadcast is ours)."""
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: expected broadcast join\n{plan}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q3's date predicates must land in PushedFilters on the parquet
    scans — at 100 TB this is the difference between reading a
    partition and reading the table."""
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "PushedFilters: [" in plan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line and "IsNotNull" in line
    ]
    assert pushed, f"no non-trivial pushed filters:\n{plan}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q1 touches 7 of lineitem's 16 columns; the scan's ReadSchema
    must exclude the wide untouched ones (l_comment) — a projection
    that reads every column at 100 TB pays for the whole table."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines, plan
    assert all("l_comment" not in l for l in schema_lines), schema_lines


def _df_plan(df, spark, mode="simple"):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _full_builders():
    from rolaguard_data_collectors_spark.streaming import pipeline_queries as pq

    return dict(pq._SRC_BUILDERS)


def test_decode_pipelines_default_memo_single_scan(spark, sf_dir):
    """The batch decode is the measured winner (see the A/B note above
    normalize._attach_parsed): ONE narrow pass over events -
    single scan, no join/exchange introduced for the decode. Round 8:
    asserted on the FULL per-source builders (the components of the
    staged union — the registered queries are routed slices, tested
    below). Optimization round 14 (guide §4.1): the pruned no-key
    decode these builders request is now pure Catalyst expressions
    (lorawan_sql.decode_phypayload_expr) — NO Python crossing of any
    kind may appear; ``unbase64`` is the JVM decode's plan signature."""
    for name, build in _full_builders().items():
        plan = _df_plan(build(spark, sf_dir), spark)
        assert plan.count("FileScan parquet") == 1, (
            f"{name}: expected single scan\n{plan}"
        )
        assert "unbase64" in plan, f"{name}: JVM decode missing\n{plan}"
        assert "decode_phypayload" not in plan, (
            f"{name}: decode crossing reappeared\n{plan}"
        )
        # chirpstack keeps exactly ONE crossing: the protobuf-uplink
        # fallback (pb bodies can't be parsed in expressions); every
        # other source is now Python-free.
        want_crossings = 1 if name == "chirpstack" else 0
        assert plan.count("ArrowEvalPython") == want_crossings, (
            f"{name}: unexpected Python crossings\n{plan}"
        )
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python\n{plan}"


def test_staged_pipeline_union_and_slices(spark, sf_dir):
    """Round 8 consolidation shape: the staged union carries all four
    end-to-end normalize chains (4 scans of the same events source, 4
    in-line Arrow decode crossings — one per source, never more), and
    every registered pipeline query is a routed slice of the SHARED
    checkpointed frame: no parquet re-scan, no second Arrow crossing,
    all four slices reading the same staged plan."""
    from rolaguard_data_collectors_spark.streaming import pipeline_queries as pq

    union_plan = _df_plan(pq.staged_pipeline_union(spark, sf_dir), spark)
    assert union_plan.count("FileScan parquet") == 4, union_plan
    # Round 14: the four in-line decode crossings became JVM
    # expressions (one unbase64 chain per source) — the union must
    # carry ZERO Python nodes now.
    assert union_plan.count("unbase64") >= 4, union_plan
    assert "decode_phypayload" not in union_plan, union_plan
    # one crossing total: chirpstack's protobuf-uplink fallback
    assert union_plan.count("ArrowEvalPython") == 1, union_plan
    assert "BatchEvalPython" not in union_plan, union_plan
    for name in ("pipeline_mqtt_forwarder", "pipeline_chirpstack_gateway",
                 "pipeline_ttn_v2", "pipeline_ttn_v3"):
        plan = _plan(spark, sf_dir, name, mode="simple")
        assert "FileScan parquet" not in plan, f"{name} re-scans\n{plan}"
        assert "ArrowEvalPython" not in plan, f"{name} re-decodes\n{plan}"
        assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan


@pytest.mark.parametrize(
    "name,max_scans,max_exchanges",
    [
        # one corpus scan, three shuffles (signature agg, bucket
        # window, occupancy reuse) — the consolidation must not
        # reintroduce the per-band union recompute (round-1 bug: 10
        # scans / 22 exchanges)
        ("minhash_lsh_buckets", 1, 3),
        # one scan / <=4 shuffles (fingerprint agg, band window,
        # per-doc agg) — no join back to the fingerprint table
        ("simhash_profile", 1, 4),
        # pack leg + flags leg (two pruned scans, bucket-window +
        # flag-window + join exchanges) + round-6 DSIR columns: the
        # bigram feature branch, the one-pass dual-model aggregate,
        # the broadcast 128-bucket model join, per-doc weight agg —
        # and round 7's DISTRIBUTED rank (bucket-count agg + tiny
        # offset window + broadcast + per-bucket local rank), which
        # trades the single-reducer global Window for a handful of
        # bucket-frame-sized exchanges
        ("curation_sample_pack", 4, 23),
        # narrow regex chain: spread exchange only
        ("pii_redaction_profile", 1, 1),
        # round 7: the banded perceptual frame is localCheckpoint'd,
        # so the static plan carries ONE feats scan (the r6 form's 3
        # redundant doc_id-only gen+hash subtrees are gone — sharing
        # is static, not ReuseExchange-dependent; asserted in
        # tests/test_image_phash.py); exchanges: pair distinct +
        # partner-count agg + hash/cnt/feats joins + two 1-row golden
        # broadcasts
        ("multimodal_decode_features", 1, 9),
    ],
)
def test_round4_query_plan_budgets(spark, sf_dir, name, max_scans, max_exchanges):
    """Scan/shuffle budgets for the round-4 merged and new queries:
    consolidation and flattening must never silently multiply scans or
    exchanges (each extra scan is a full table read at 100 TB)."""
    plan = _plan(spark, sf_dir, name, mode="simple")
    assert plan.count("FileScan parquet") <= max_scans, plan
    assert plan.count("Exchange") <= max_exchanges, plan


@pytest.mark.parametrize(
    "name,max_scans,max_exchanges",
    [
        # round 7: histogram-pruned form (3 l_returnflag groups = the
        # few-groups regime where the r5 sort-window form serialized to
        # 3 tasks): bucket-count scan + bracket-bucket scan, exchanges
        # for the bucket agg / tiny offsets window / bracket broadcast /
        # final agg — every heavy stage at scan parallelism
        ("exact_percentiles", 2, 5),
        # base+sketches, exact-distinct leg, histogram-percentile leg
        # (bucket-count scan + bracket-bucket scan — every heavy stage
        # at scan parallelism; the r6 sort-window leg ran the whole
        # fact table through 3 tasks) + two co-partitioned joins
        ("approx_aggregates", 4, 10),
        # fingerprint + repetition are in-row folds behind the
        # _arrays_barrier Generate: only the corpus-global branches
        # (decontamination, unigram perplexity, and — round 6 — the
        # exact-substring dup inventory, whose hashed-windows frame is
        # localCheckpoint'd so its scan+explode+hash chain runs once)
        # may scan/join — the former explode+groupBy+join-back form
        # planned 9+ scans for the in-row families alone
        ("text_profile", 8, 26),
    ],
)
def test_round5_query_plan_budgets(spark, sf_dir, name, max_scans, max_exchanges):
    """Budgets locking the round-5 plan rewrites (see SURVEY.md §6
    round-5 tuning): regressions that reintroduce removed shuffles or
    duplicate scans fail here before they reach bench."""
    plan = _plan(spark, sf_dir, name, mode="simple")
    assert plan.count("FileScan parquet") <= max_scans, plan
    assert plan.count("Exchange") <= max_exchanges, plan


def test_clean_corpus_semantic_plan_budget(spark, sf_dir):
    """Scan/shuffle budget for the round-8 flagship composition
    (exact dedup -> near-dup -> quality -> seed-codebook SemDeDup):
    measured 11 scans / 22 exchanges — the text-clean legs (base +
    exact-dedup + three pruned near-dup scans), the embeddings legs
    (seed collect is driver-side and NOT in this plan; finite gate +
    assignment + sizes broadcast + salted pair join + drop distinct +
    two anti-joins). A regression that re-scans the corpus per band or
    un-broadcasts the sizes frame fails here before bench sees it."""
    plan = _plan(spark, sf_dir, "clean_corpus_semantic", mode="simple")
    assert plan.count("FileScan parquet") <= 12, plan
    assert plan.count("Exchange") <= 25, plan


def test_pushdown_barrier_survives_optimizer(spark):
    """Spark 4.1's range-aware folding removes ``rand() >= 0`` — the
    round-4 barrier predicate — silently re-enabling pushdown below
    spread()'s exchange. Pin that the current barrier predicate
    survives optimization AND actually blocks a deterministic filter
    from crossing it."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .where(F.monotonically_increasing_id() >= 0)
        .select((F.col("id") * 2).alias("x"))
        .filter(F.col("x") > 3)
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "monotonically_increasing_id" in plan, plan
    # the x>3 filter must sit ABOVE the barrier, not below it
    above, below = plan.split("monotonically_increasing_id", 1)
    assert "(id" in above and "(id" not in below.split("Range")[0], plan


def test_chirpstack_pb_fallback_single_eval(spark, sf_dir):
    """The protobuf-fallback UDF must be planned exactly once: alias
    substitution used to copy it into pushed-down filters, costing a
    second full Arrow crossing per row (~1s at sf0.1). Guarded by the
    UDF's nondeterministic flag + the single textual reference in
    normalize_chirpstack."""
    plan = _df_plan(_full_builders()["chirpstack"](spark, sf_dir), spark)
    # Round 14: the decode crossing became JVM expressions, so the pb
    # fallback is the plan's ONLY Python node.
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("pb_uplink_to_json") == 1, plan


def test_chirpstack_pb_fallback_input_is_masked(spark, sf_dir):
    """The pb fallback's Arrow crossing is bounded by its argument: the
    UDF must receive ``CASE WHEN <gateway /up$ topic, body not starting
    with '{'> THEN value END`` with no ELSE, so JSON bodies and every
    other route reach it as NULL and skip the base64 attempt."""
    import re

    plan = _df_plan(_full_builders()["chirpstack"](spark, sf_dir), spark)
    m = re.search(r"pb_uplink_to_json\((CASE WHEN .*? END)\)#\d+", plan)
    assert m, plan
    arg = m.group(1)
    parts = re.fullmatch(r"CASE WHEN (.*) THEN (value#\d+) END", arg)
    assert parts and "ELSE" not in arg, arg
    cond, value = parts.groups()
    assert "RLIKE(topic#" in cond and "^gateway/" in cond, cond
    assert "/up$)" in cond, cond
    assert f"NOT StartsWith({value}, {{)" in cond, cond


def test_bench_cost_tripwire(spark, sf_dir):
    """Execution-cost regression tripwire (round 7): build + one noop
    write of EVERY registered query at sf0.01, asserting per-query and
    total wall budgets. The budgets are deliberately loose multiples of
    the measured baseline (53s total, 4.3s worst query on a loaded
    host) — this is not a benchmark, it is a tripwire: a new leg that
    makes one query quadratic (pair-explosion class) or doubles the
    board's cost fails HERE before the driver's sf0.1 bench records it.
    Uses sf0.01 — cheap enough for CI, big enough that a blowup is
    unmistakable against host noise.

    Warm-up (optimization round 13): when this test runs early in a
    fresh session, whichever query materializes FIRST absorbs the
    session's one-time costs — JVM classloading, first whole-stage
    codegen, Arrow worker pool spin-up, and (for the pipeline slices)
    the one-time Janino compilation of the staged-union plan, measured
    at 7-15 s on a loaded host with per-run-different victims
    (packet_summary 16.6 s cold / 1.5 s warm; pipeline_chirpstack
    14.3 s cold). The tripwire's claim is PER-QUERY cost, so it now
    runs the same warm-up bench.py uses before the timed loop,
    attributing one-time session cost to no query."""
    import time

    from bench import noop_wall, warm_up

    sf001 = sf_dir.replace("sf0.001", "sf0.01")
    warm_up(spark, sf001)

    def _wall(build) -> float:
        """Build + noop write, both on the clock."""
        t0 = time.perf_counter()
        df = build(spark, sf001)  # fresh: re-stage checkpoints
        return time.perf_counter() - t0 + noop_wall(df)

    # The 4-source staged-union parse carries the board's single
    # biggest one-time plan-compilation bill (~13 s at sf0.01 cold,
    # ~1.5 s warm) and is memoized per (session, dataset) — whichever
    # pipeline slice runs first in the loop would absorb it. Time it
    # under its OWN blowup budget (a quadratic parse regression still
    # fails loudly here), then let the per-query loop measure the
    # slices' steady-state cost like every other query.
    from rolaguard_data_collectors_spark.streaming.pipeline_queries import (
        _staged,
    )

    staged_wall = _wall(_staged)
    assert staged_wall < 60.0, (
        f"staged pipeline parse blowup: {staged_wall:.1f}s at sf0.01 "
        "(cold compile + materialization baseline ~13s)"
    )
    # Round 14 (ADVICE r13 + VERDICT r13 item 1): each pass builds the
    # DataFrame FRESH so lazy localCheckpoint staging (tfidf, dedup,
    # heavy_hitters, cascade, dsir, multimodal, kmeans assignment) is
    # recomputed per pass — the r13 form reused the built handle, so a
    # quadratic blowup UPSTREAM of any checkpoint only ran on pass 1
    # and min-of-passes discarded it. The default suite runs ONE pass
    # (the second full pass is gated behind SPARK_GRAFT_FULL_SWEEP to
    # keep the driver's verify inside its budget); noise immunity for
    # the single-pass default comes from a targeted retry instead: a
    # host-noise burst clears on the retry, a real blowup is slow on
    # EVERY materialization and still trips.
    n_passes = 2 if os.environ.get("SPARK_GRAFT_FULL_SWEEP") else 1
    walls: dict[str, float] = {}
    for _pass in range(n_passes):
        for name in SPECS:
            wall = _wall(SPECS[name].build)
            walls[name] = min(walls.get(name, float("inf")), wall)
    for name, w in list(walls.items()):
        if w > 12.0:
            walls[name] = min(w, _wall(SPECS[name].build))
    overs = [(n, round(w, 2)) for n, w in walls.items() if w > 12.0]
    total = sum(walls.values())
    assert not overs, f"per-query cost blowup (>12s at sf0.01): {overs}"
    assert total < 110.0, f"whole-board cost blowup: {total:.1f}s at sf0.01"


def test_semantic_dedup_join_is_equi(spark, sf_dir):
    """SemDeDup's no-all-pairs claim as a plan invariant: the
    within-cluster self-join must compile to an equi-join on the
    cluster key (SortMergeJoin / ShuffledHashJoin / BroadcastHashJoin
    with the vec_id inequality as a post-condition), never a
    nested-loop over all pairs."""
    from rolaguard_data_collectors_spark.llm.kmeans import (
        kmeans_fit,
        semantic_dedup,
    )

    sf001 = sf_dir.replace("sf0.001", "sf0.01")
    centroids, _ = kmeans_fit(spark, sf001, k=4, iters=1)
    df = semantic_dedup(spark, sf001, centroids)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan, "all-pairs join"
    assert "BroadcastNestedLoopJoin" not in plan, "all-pairs join"


def test_time_windows_range_leg_is_bucket_equi_join(spark, sf_dir):
    """Round 9: the error_window leg joins two events-sized relations —
    if the bucket equi-key is ever lost, Spark's only plan for the
    pure-inequality condition is BroadcastNestedLoopJoin, the exact
    O(N x M) shape the operator exists to avoid. time_windows has no
    sanctioned 1-row guard crossJoins, so the ban can be absolute for
    this query, plus the positive claim: a hash/sort-merge join keyed
    on the bucket."""
    # simple mode keeps the join keys on the node line
    plan = _plan(spark, sf_dir, "time_windows", mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, "range leg lost its bucket"
    join_lines = [
        ln for ln in plan.splitlines()
        if ("HashJoin" in ln or "SortMergeJoin" in ln) and "_bucket" in ln
    ]
    assert join_lines, plan


def test_ngram_dedup_candidate_semi_joins_broadcast_by_aqe(spark, sf_dir):
    """ngram_jaccard_dedup semi-joins the corpus to its candidate ids
    before tokenization. Those id frames are O(corpus) on
    duplicate-heavy data, so they carry no broadcast hint and AQE picks
    the strategy from runtime sizes: at the fixture scale both
    semi-joins must still land as BroadcastHashJoin in the FINAL
    adaptive plan (executed, not just compiled)."""
    from rolaguard_data_collectors_spark.llm.dedup import ngram_jaccard_dedup

    df = ngram_jaccard_dedup(spark, sf_dir)
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    assert root.nodeName() == "AdaptiveSparkPlan", root.nodeName()
    final = root.executedPlan().toString()
    semis = [ln for ln in final.splitlines() if "LeftSemi" in ln]
    assert len(semis) == 2, final
    assert all("BroadcastHashJoin" in ln for ln in semis), final
