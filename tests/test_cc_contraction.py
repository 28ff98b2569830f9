"""Distributed connected components by contraction rounds: labels equal
to the driver NumPy path on long chains and hot-bucket shapes, round
counts that grow with log n, and round frames whose size estimate does
not compound.

A small ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (set for the
test, restored afterwards) makes these small edge sets take the
multi-round path instead of the one-task finish.
"""

import math

import numpy as np

from datasketches_rust_spark.operators import connected_components as cc
from datasketches_rust_spark.session import scoped_conf

# about 170 long edges per partition
SMALL_ADVISORY = "4k"


def _labels(frame):
    return sorted(map(tuple, frame.collect()))


def _both_paths(spark, edges, schema="a long, b long"):
    """(forced-distributed labels, driver labels, distributed stats)."""
    df = spark.createDataFrame(edges, schema)
    stats: dict = {}
    with scoped_conf(spark, {cc.ADVISORY_SIZE: SMALL_ADVISORY}):
        dist = _labels(cc.connected_components(df, driver_max_edges=0, stats=stats))
    driver = _labels(cc.connected_components(df, driver_max_edges=len(edges)))
    return dist, driver, stats


def _random_path(n, seed):
    ids = np.random.default_rng(seed).permutation(n) + 1000
    return [(int(a), int(b)) for a, b in zip(ids[:-1], ids[1:])]


def test_random_paths_converge_in_log_rounds(spark, monkeypatch):
    """The min-label loop this replaced needed rounds linear in the path
    length (60–168 at 256 vertices in a NumPy replay), so a path this
    long ran past its round cap. Measured rounds before the one-task
    finish: 1, 3 and 4."""
    sizes = []
    real_materialize = cc._materialize

    def recording(df):
        out = real_materialize(df)
        sizes.append(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return out

    monkeypatch.setattr(cc, "_materialize", recording)
    rounds = {}
    for n in (256, 1024, 4096):
        sizes.clear()
        dist, driver, stats = _both_paths(spark, _random_path(n, seed=n))
        assert dist == driver
        assert {label for _, label in dist} == {1000}
        rounds[n] = stats["rounds"]
        active = stats["active_edges"]
        assert len(active) == rounds[n] + 1
        assert all(b <= a for a, b in zip(active, active[1:])), active
        # a materialized round's estimate must not inherit (and so
        # multiply) the estimate of the plan it replaced
        assert sizes and all(b <= a for a, b in zip(sizes, sizes[1:])), sizes
    assert rounds[4096] >= 2, rounds
    # O(log n) rounds: inside the log² n bound of Large-Star/Small-Star
    for n, r in rounds.items():
        assert r <= math.log2(n), rounds
    assert rounds[256] <= rounds[1024] <= rounds[4096], rounds


def test_salted_hot_bucket_chain_shape(spark):
    """The over-cap LSH bucket shape (operators/lsh.py): a 1,500-row
    bucket split by an id hash into 6 salts, ids chained in order within
    each salt, and the salts' minimum ids chained together; next to it,
    small cliques and pairs whose ids interleave with the bucket's."""
    rng = np.random.default_rng(7)
    hot = np.sort(rng.choice(10**6, size=1500, replace=False))
    salt = (hot * 2654435761) % 6
    edges = []
    heads = []
    for k in range(6):
        member = hot[salt == k]
        heads.append(int(member[0]))
        edges += [(int(a), int(b)) for a, b in zip(member[:-1], member[1:])]
    edges += list(zip(heads[:-1], heads[1:]))
    rest = np.setdiff1d(rng.choice(10**6, size=600, replace=False), hot)
    for group in np.array_split(rest, 150):
        g = [int(v) for v in group]
        edges += [(g[i], g[j]) for i in range(len(g)) for j in range(i + 1, len(g))]
    dist, driver, stats = _both_paths(spark, edges)
    assert stats["rounds"] >= 1, stats
    assert dist == driver
    assert sum(1 for v, label in dist if label == int(hot[0])) == len(hot)

