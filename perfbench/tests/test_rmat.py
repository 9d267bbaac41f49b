from __future__ import annotations

import numpy as np

from rmat import rmat_edges


def _edge_set(spark, seed, partitions):
    rows = rmat_edges(spark, 9, 8, seed=seed, num_partitions=partitions).collect()
    return {(r.src, r.dst) for r in rows}, len(rows)


def test_same_seed_same_edges_at_any_partition_count(spark):
    one, n_one = _edge_set(spark, 7, 1)
    four, n_four = _edge_set(spark, 7, 4)
    assert one == four
    assert n_one == len(one) == n_four  # no duplicate rows


def test_different_seed_different_edges(spark):
    assert _edge_set(spark, 7, 4)[0] != _edge_set(spark, 8, 4)[0]


def test_no_self_loops_and_skewed_in_degree(spark):
    edges, _ = _edge_set(spark, 3, 2)
    assert all(s != d for s, d in edges)
    assert max(max(e) for e in edges) < 2**9
    in_deg = np.bincount([d for _, d in edges])
    assert in_deg.max() > 8 * in_deg[in_deg > 0].mean()
