#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "total_query_wall", "value": <sum sec>, "unit": "sec",
   "queries": {"<name>": <sec>, ...}, "sf": <float>}

Each query is forced to full materialization with a ``noop``-format
write (all partitions computed, nothing collected to the driver, no
filesystem cost) — the same action the driver's correctness pass pays
for, minus the transfer. A warm-up runs first so JVM/codegen
startup isn't billed to the first measured query.

``warm_up`` and ``noop_wall`` are the repo's one timing harness:
scripts and the cost tripwire in tests/test_plans.py import them
rather than keeping their own copies.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def noop_wall(df) -> float:
    """Wall seconds of one ``noop``-format write of ``df``: every
    partition computed, nothing collected, no filesystem cost. Building
    ``df`` happens before the call, outside the clock."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def warm_up(spark, sf_dir: str) -> None:
    """Pay a session's one-time costs before anything is timed: JVM
    classloading, first codegen, the Arrow Python runner (worker pool
    spin-up + package import), and the shuffle + JSON paths, so fixed
    startup cost isn't billed to whichever query happens to run first."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.bootstrap import ensure_executor_pythonpath
    from rolaguard_data_collectors_spark.catalog import compute_parallelism
    from rolaguard_data_collectors_spark.functions.lorawan_udfs import (
        decode_phypayload,
    )

    # Ship the package to executors BEFORE the UDF warm-up — queries do
    # this lazily via load_table, but the warm-up UDF runs first.
    ensure_executor_pythonpath(spark)
    noop_wall(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000))
    # Spin up one Python/Arrow worker per CORE (compute fan-out, not
    # the narrower exchange width — spread() repartitions UDF stages
    # to core count, so a conf-width warm-up would leave cold workers
    # to the first measured UDF query).
    noop_wall(
        spark.range(256)
        .repartition(compute_parallelism(spark))
        .select(
            decode_phypayload(
                F.lit("QMTBfwEAEQBd6f1YJ+K7NmuNmy/JpHTFQKI="), F.lit(None), F.lit(None)
            )
        )
    )
    # Warm the shuffle + JSON codegen paths too (exchange machinery,
    # Jackson parser init, codegen compilation for from_json/to_json) —
    # otherwise the first measured query absorbs ~5-10 s of one-time
    # setup regardless of its own cost.
    noop_wall(
        spark.range(100_000)
        .select(
            (F.col("id") % 7).alias("k"),
            F.to_json(F.struct(F.col("id").alias("a"))).alias("j"),
        )
        .select("k", F.from_json("j", "a bigint").alias("s"))
        .groupBy("k")
        .agg(F.count("s.a"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from rolaguard_data_collectors_spark.registry import collect_all
    from rolaguard_data_collectors_spark.session import get_spark

    spark = get_spark(app_name="bench")
    specs = collect_all()
    warm_up(spark, sf_dir)

    # Pipeline cold plan-compile (ADVICE r13): measured BEFORE the
    # per-query loop — the loop materializes the memoized staged-union
    # slices, so measuring "cold" after it (the r13 placement) recorded
    # a partially warmed wall (driver run: 1.72 s vs the 10-30 s a
    # fresh session actually pays). This is the one-time Janino codegen
    # + JIT bill a production session pays on its first batch; the
    # steady-state throughput samples stay at the end of the run, by
    # which point the query loop's 12 slice materializations guarantee
    # the 2-3-build warm ramp has completed.
    pipe_cold_build_sec = None
    try:
        from rolaguard_data_collectors_spark.streaming.pipeline_queries import (
            staged_pipeline_union,
        )

        pipe_cold_build_sec = round(
            noop_wall(staged_pipeline_union(spark, sf_dir)), 2
        )
    except Exception as exc:
        print(f"bench: pipeline cold build skipped: {exc}", file=sys.stderr)

    # Best of 3 materializations per query, ROUND-ROBIN across the
    # board (run every query once, then repeat the full pass twice).
    # Round-robin (round 7) instead of 3 consecutive runs per query:
    # this host shows multi-second noise bursts from OUTSIDE the VM
    # (load >4 with no local process; oracle times inflate
    # identically), and a burst that spans one query's 3 consecutive
    # runs poisons its min — spread across the board, a burst lands on
    # at most one pass of many queries and the per-query min dodges it.
    #
    # FRESH BUILD PER PASS (optimization round 14, VERDICT r13 item 2):
    # the r13 loop built each DataFrame once and re-materialized the
    # same handle, so every query whose build contains a lazy
    # ``localCheckpoint`` (the repo-wide staging discipline: tfidf's tf
    # table, dedup token hashes, the kmeans assignment, dsir, ...)
    # persisted those blocks on pass 1 and passes 2-3 read them back —
    # the per-query min was an incremental-warm number, not a full
    # recompute. Now ``spec.build`` runs fresh inside every pass (new
    # checkpoint RDDs, nothing survives between passes) and only the
    # materialization is timed (Python-side plan construction — py4j
    # round trips, ~12 s across the 50 queries — happens outside the
    # timed window, as it effectively did before: the old min came
    # from passes 2-3, which paid no build). Driver-side memos keyed
    # per session (seed codebooks, history blooms) are persisted lake
    # artifacts by design and stay warm, as in every prior round.
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name, spec in specs.items():
            if timings.get(name, 0) < 0:
                continue  # failed on an earlier pass
            try:
                # fresh build: re-stage checkpoints
                took = noop_wall(spec.build(spark, sf_dir))
                prev = timings.get(name)
                timings[name] = took if prev is None else min(prev, took)
            except Exception as exc:  # a failing query must not hide the rest
                timings[name] = -1.0
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
    timings = {
        n: (round(t, 2) if t >= 0 else -1.0) for n, t in timings.items()
    }

    # DuckDB oracle wall-times over the same parquet at the same SF —
    # the single-node baseline each Spark time is judged against
    # (fully materialized via fetchall; skipped for rows-only queries).
    duck: dict[str, float] = {}
    try:
        from rolaguard_data_collectors_spark.oracle import duckdb_connection

        con = duckdb_connection(sf_dir)
        # Round-robin for the same burst-noise reason as the Spark loop.
        for _pass in range(2):
            for name, spec in specs.items():
                if spec.oracle is None or duck.get(name, 0) < 0:
                    continue
                try:
                    t0 = time.perf_counter()
                    con.execute(spec.oracle).fetchall()
                    took = time.perf_counter() - t0
                    prev = duck.get(name)
                    duck[name] = took if prev is None else min(prev, took)
                except Exception as exc:
                    duck[name] = -1.0
                    print(f"bench: oracle {name} FAILED: {exc}", file=sys.stderr)
        duck = {n: (round(t, 2) if t >= 0 else -1.0) for n, t in duck.items()}
    except Exception as exc:
        print(f"bench: oracle timing skipped: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 2)
    duck_total = round(sum(t for t in duck.values() if t >= 0), 2)

    # Ex-flagship subtotals (round 9): clean_corpus_semantic's oracle
    # unnests every (vec_id, dim) pair for the pairwise cosine and
    # costs ~38-41% of the entire oracle board, so the aggregate ratio
    # can be silently carried by that one query. Publishing both
    # totals keeps the round-over-round trend readable as the registry
    # evolves; the flagship itself stays in the headline numbers.
    _FLAGSHIP = "clean_corpus_semantic"
    total_ex_flagship = round(
        sum(t for n, t in timings.items() if t >= 0 and n != _FLAGSHIP), 2
    )
    duck_total_ex_flagship = round(
        sum(t for n, t in duck.items() if t >= 0 and n != _FLAGSHIP), 2
    )

    # Headline throughput vs the reference: BASELINE.md's only number
    # is the callback-per-message ceiling (O(10^3-10^4) msg/s). Round
    # 8: the registered pipeline queries are routed slices of a shared
    # staged normalization (their per-query times measure the slice,
    # not the parse), so the honest rate is measured directly on a
    # FRESH un-memoized build of the staged union — 4 x |events| rows
    # through the full JSON parse -> route -> radio metadata -> PHY
    # decode in one materialization.
    # VERDICT r12 item 3: the single-sample headline swung 258-375k
    # msg/s across hosts/runs of IDENTICAL code — noise-dominated. Now
    # N fresh staged builds (a new DataFrame per sample, so no handle
    # reuse ties the samples together; Python-side plan construction
    # stays outside the timed window, same clock as every prior round),
    # publishing min / median / the full sample band. The headline key
    # `pipeline_msgs_per_sec` becomes the MEDIAN — the number a
    # capacity plan should quote — not the best-case single sample.
    pipe_rate = pipe_rate_min = None
    pipe_samples: list[int] = []
    stage_build_sec = None
    try:
        import statistics

        from rolaguard_data_collectors_spark.streaming.pipeline_queries import (
            staged_pipeline_union,
        )

        n_events = (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
        )
        n_samples = max(3, int(os.environ.get("SPARK_GRAFT_PIPE_SAMPLES", "5")))
        # The one-time Janino codegen/JIT bill of this plan shape is
        # measured at the TOP of the run (pipeline_cold_build_sec, see
        # above — ADVICE r13 moved it before the query loop so it is
        # genuinely cold); by this point the query loop's 12 memoized
        # slice materializations guarantee the 2-3-build warm ramp has
        # completed, so these N fresh builds sample steady state — the
        # number a capacity plan needs.
        walls = [  # a FRESH build per sample
            noop_wall(staged_pipeline_union(spark, sf_dir))
            for _ in range(n_samples)
        ]
        stage_build_sec = round(min(walls), 2)
        pipe_samples = [int(4 * n_events / w) for w in walls]
        pipe_rate_min = min(pipe_samples)
        pipe_rate = int(statistics.median(pipe_samples))
    except Exception as exc:
        print(f"bench: pipeline rate skipped: {exc}", file=sys.stderr)
    # Per-query dicts first, headline totals LAST: the driver archives
    # the TAIL of stdout, so head-truncation of a long line must cost
    # per-query detail, never the totals (round 1 lost "value" this
    # way). Compact separators + 2-decimal times keep the whole line
    # under the archive window anyway.
    print(
        json.dumps(
            {
                "queries": timings,
                "oracle_queries": duck,
                "metric": "total_query_wall",
                "unit": "sec",
                "sf": _sf_of(sf_dir),
                "runs_per_query": 3,
                # min-of-3 round-robin passes (full board per pass),
                # each pass building the DataFrame FRESH (round 14) so
                # lazy localCheckpoint staging is recomputed per pass —
                # recorded so a methodology regression is visible in
                # the artifact itself, alongside the codegen-cache
                # sizing the steady-state number depends on.
                "build_mode": "fresh_per_pass",
                "run_order": "round_robin",
                "codegen_cache_max": spark.conf.get(
                    "spark.sql.codegen.cache.maxEntries", "unset"
                ),
                "pipeline_msgs_per_sec": pipe_rate,  # median of samples
                "pipeline_msgs_per_sec_min": pipe_rate_min,
                "pipeline_msgs_per_sec_med": pipe_rate,
                "pipeline_msgs_per_sec_samples": pipe_samples,
                "pipeline_stage_build_sec": stage_build_sec,
                "pipeline_cold_build_sec": pipe_cold_build_sec,
                "flagship": _FLAGSHIP,
                "value_ex_flagship": total_ex_flagship,
                "oracle_total_ex_flagship": duck_total_ex_flagship,
                "oracle_total": duck_total,
                "value": total,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
