"""Session-factory profile resolution (VERDICT r12 item 7).

``get_spark`` forks its tuning by the *resolved* master; these tests
pin the contract on the JVM-free core (``resolve_conf``) so the local
AQE tuning — the 2 MB advisory that would shred big-cluster skew-join
splits into ~2 MB tasks, and parallelismFirst=false — can never again
silently leak onto a real cluster, and so the cluster escape hatches
(SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_MASTER) provably work.
One Spark-backed test checks that batch plans start at the batch width
while the session's streaming width is one partition.
"""

from __future__ import annotations

import pytest

from rolaguard_data_collectors_spark.session import (
    _infer_profile,
    default_shuffle_partitions,
    resolve_conf,
)

_LOCAL_ONLY_KEYS = (
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
)


@pytest.mark.parametrize(
    "master,want",
    [
        ("local[32]", "local"),
        ("local[*]", "local"),
        ("local-cluster[2,2,1024]", "local"),
        ("yarn", "cluster"),
        ("k8s://https://1.2.3.4:6443", "cluster"),
        ("spark://host:7077", "cluster"),
    ],
)
def test_profile_inference(master, want):
    assert _infer_profile(master) == want
    _, profile, _ = resolve_conf(master=master)
    assert profile == want


@pytest.mark.parametrize(
    "master", ["yarn", "k8s://https://1.2.3.4:6443", "spark://host:7077"]
)
def test_cluster_profile_leaves_aqe_tuning_at_spark_defaults(master):
    """The 2 MB advisory + parallelismFirst=false pair is local-host
    tuning; a cluster master must get NEITHER key (absent == Spark
    default 64 MB / true), not an explicit re-set."""
    _, profile, conf = resolve_conf(master=master)
    assert profile == "cluster"
    for key in _LOCAL_ONLY_KEYS:
        assert key not in conf, key


def test_local_profile_applies_measured_tuning():
    _, profile, conf = resolve_conf(master="local[32]")
    assert profile == "local"
    assert (
        conf["spark.sql.adaptive.coalescePartitions.parallelismFirst"]
        == "false"
    )
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "2m"


def test_explicit_profile_overrides_inference():
    # an operator CAN force cluster-safe conf on a local master (e.g.
    # when local[] is just the gateway for plan compilation)
    _, profile, conf = resolve_conf(master="local[4]", profile="cluster")
    assert profile == "cluster"
    for key in _LOCAL_ONLY_KEYS:
        assert key not in conf


_BATCH_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_STREAM_WIDTH = "spark.sql.shuffle.partitions"


def test_shuffle_partitions_env_is_honoured(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "400")
    assert default_shuffle_partitions() == 400
    for master in ("yarn", "local[32]"):
        _, _, conf = resolve_conf(master=master)
        assert conf[_BATCH_WIDTH] == "400"
    # explicit argument still wins over the env
    _, _, conf = resolve_conf(master="yarn", shuffle_partitions=96)
    assert conf[_BATCH_WIDTH] == "96"


@pytest.mark.parametrize("master", ["local[4]", "yarn"])
def test_streaming_width_is_one_in_both_profiles(master, monkeypatch):
    """The batch width rides AQE's initial partition number; the
    streaming width (micro-batch shuffles and state-store partitions,
    where Spark turns AQE off) is one partition, whatever the batch
    width, and ``extra_conf`` can still widen it."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "400")
    _, _, conf = resolve_conf(master=master, shuffle_partitions=96)
    assert conf[_STREAM_WIDTH] == "1"
    assert conf[_BATCH_WIDTH] == "96"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    _, _, conf = resolve_conf(master=master, extra_conf={_STREAM_WIDTH: "8"})
    assert conf[_STREAM_WIDTH] == "8"
    assert conf[_BATCH_WIDTH] == "400"


def _first_exchange_width(df) -> int:
    """Partition count of the first shuffle in ``df``'s plan before AQE
    coalesces it at runtime."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"hashpartitioning\(.*?, (\d+)\)", plan)
    assert m, plan
    return int(m.group(1))


def test_batch_exchanges_start_at_batch_width(spark, tmp_path):
    """A batch ``groupBy`` and a ``groupBy`` inside a ``foreachBatch``
    body both plan their first exchange at the batch width, not at the
    one-partition streaming width."""
    from pyspark.sql import functions as F

    want = int(spark.conf.get(_BATCH_WIDTH))
    assert spark.conf.get(_STREAM_WIDTH) == "1"
    batch = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    assert _first_exchange_width(batch) == want

    seen = []

    def body(df, epoch_id):
        seen.append(_first_exchange_width(
            df.groupBy((F.col("value") % 7).alias("k")).count()))

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None
    finally:
        q.stop()
    assert seen and all(w == want for w in seen), seen


def test_shuffle_partitions_default_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_shuffle_partitions() == 8  # min(cpus, 12)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert default_shuffle_partitions() == 12


def test_submit_master_env_resolves_cluster(monkeypatch):
    """master=None under spark-submit: the --master value surfaces via
    env BEFORE user code runs; the factory must adopt it (and its
    cluster profile), not force local[cpus] over it."""
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "yarn")
    master, profile, conf = resolve_conf(master=None)
    assert master == "yarn"
    assert profile == "cluster"
    for key in _LOCAL_ONLY_KEYS:
        assert key not in conf


def test_extra_conf_wins_last():
    _, _, conf = resolve_conf(
        master="local[4]",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m"},
    )
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "64m"
