"""Run-to-run determinism over the registry: every registered query
must produce BIT-IDENTICAL results on repeated execution — the
property the round-4 shard-packing bug (nondeterministic
repartitionByRange sampling leaking into offsets) violated while
still passing single-run oracle checks at small SF.

Coverage = 8 mechanism probes (one per plan family that uses windows,
multi-job driver state, runtime partitioning, or Python kernels — the
mechanisms that can go nondeterministic) PLUS every other registered
query, so each run soaks the full registry (about 200 s on 4 cores at
sf0.001) and the set of test ids does not depend on the day it runs.
"""

from __future__ import annotations

import pytest

from rolaguard_data_collectors_spark.registry import collect_all

SPECS = collect_all()

PROBES = [
    "curation_sample_pack",     # two-phase prefix sum (driver collect)
    "simhash_profile",          # window rep election + per-doc agg
    "minhash_lsh_buckets",      # occupancy window over band explode
    "label_centroid_distance",  # k-means driver iteration
    "lorawan_security_suite",   # Python crypto kernels + cross join
    "dedup_first_arrival",      # streaming-shadow dedup
    "asof_join_orders_lineitem",  # window top-1 with tie-breaks
    "topk_global_orders",       # TakeOrderedAndProject
]

# The rest of the registry. It was once a date-rotating slice of 12,
# which made the test ids change from day to day; the test keeps its
# old name so its ids stay stable across that change.
REST = sorted(set(SPECS) - set(PROBES))


def _rows(spark, sf_dir, name):
    return sorted(
        tuple(str(x) for x in row)
        for row in SPECS[name].build(spark, sf_dir).collect()
    )


@pytest.mark.parametrize("name", PROBES)
def test_two_runs_identical(spark, sf_dir, name):
    assert _rows(spark, sf_dir, name) == _rows(spark, sf_dir, name)


@pytest.mark.parametrize("name", REST)
def test_rotating_slice_two_runs_identical(spark, sf_dir, name):
    assert _rows(spark, sf_dir, name) == _rows(spark, sf_dir, name)
