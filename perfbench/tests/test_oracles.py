"""The benchmark's oracles agree with the engine's reference oracle.

Micro-graphs are the FIXTURES.md §2 battery; ``reference_gen`` is the
seeded replica of the reference generator (n=30, max_edges=5, seed=42).
Random graphs with hash-like signed ids exercise tie-breaking by id order.
The transcript edge oracle is checked against Spark's own ``xxhash64`` and
``derive_edges`` on a small synthetic table.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import oracles
from distributed_pagerank_spark import oracle as ref
from distributed_pagerank_spark.sources.generator import generate_graph
from distributed_pagerank_spark.sources.transcripts import derive_edges, synth_transcripts

MICRO = {
    "chain5": [(0, 1), (1, 2), (2, 3), (3, 4)],
    "cycle4": [(0, 1), (1, 2), (2, 3), (3, 0)],
    "star_in": [(1, 0), (2, 0), (3, 0), (4, 0)],
    "star_out": [(0, 1), (0, 2), (0, 3), (0, 4)],
    "two_components": [(0, 1), (1, 0), (2, 3), (3, 2)],
    "dangling_pair": [(0, 1)],
    "dup_edges": [(0, 1), (0, 1), (1, 2)],
    "self_loop": [(0, 0), (0, 1), (1, 0)],
    "triangle_plus": [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0), (2, 3)],
}


def _random_graphs():
    rng = np.random.default_rng(5)
    out = {}
    for i in range(4):
        n, m = 12 + 6 * i, 30 + 25 * i
        ids = rng.integers(-(2**62), 2**62, size=n)
        out[f"random{i}"] = [
            (int(ids[a]), int(ids[b])) for a, b in rng.integers(0, n, size=(m, 2))
        ]
    return out


@pytest.fixture(scope="module")
def graphs(spark):
    gen = generate_graph(spark, 30, max_edges=5, seed=42).collect()
    return {**MICRO, **_random_graphs(),
            "reference_gen": [(r.src, r.dst) for r in gen]}


def _arrays(edges):
    a = np.array(edges, dtype=np.int64).reshape(-1, 2)
    return a[:, 0], a[:, 1]


def test_pagerank_matches_reference(graphs):
    for name, edges in graphs.items():
        want, want_iter, want_delta = ref.numpy_pagerank(edges)
        ids, ranks, iterations, delta = oracles.pagerank(*_arrays(edges))
        assert iterations == want_iter, name
        assert np.isclose(delta, want_delta, rtol=1e-9, atol=1e-15), name
        assert list(ids) == sorted(want), name
        np.testing.assert_allclose(
            ranks, [want[v] for v in ids], rtol=1e-9, atol=1e-15, err_msg=name)


def test_components_match_reference(graphs):
    for name, edges in graphs.items():
        want = ref.brute_components(edges)
        ids, comp = oracles.components(*_arrays(edges))
        assert dict(zip(ids.tolist(), comp.tolist())) == want, name


@pytest.mark.parametrize("rounds", [1, 2, 5, 20])
def test_label_propagation_matches_reference(graphs, rounds):
    for name, edges in graphs.items():
        want = ref.brute_label_propagation(edges, rounds)
        ids, labels, _, changed = oracles.label_propagation(*_arrays(edges), rounds)
        got = dict(zip(ids.tolist(), labels.tolist()))
        # the reference drops vertices whose only edges are self-loops; the
        # engine (and this oracle) keep them with their own id as label
        assert {v: got[v] for v in want} == want, name
        assert all(got[v] == v for v in set(got) - set(want)), name
        assert len(changed) <= rounds and all(c > 0 for c in changed[:-1]), name


def test_triangles_match_reference(graphs):
    for name, edges in graphs.items():
        assert oracles.triangles(*_arrays(edges)) == ref.brute_triangles(edges), name


def test_vertex_id_is_sparks_xxhash64(spark):
    rows = [(f"conv-{i:08d}", t) for i in (0, 1, 4321) for t in (0, 1, 11, -3)]
    rows += [("", 0), ("abcdefgh", 1), ("abcdefghijkl", 2), ("x" * 31, 5)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    for r in df.select("conv_id", "turn_idx",
                       F.xxhash64("conv_id", "turn_idx").alias("vid")).collect():
        assert oracles.vertex_id(r.conv_id, r.turn_idx) == r.vid, tuple(r)


def test_transcript_edges_match_derive_edges(spark, tmp_path):
    path = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_convs=40, seed=3).write.parquet(path)
    rows = derive_edges(spark.read.parquet(path)).collect()
    want = sorted((r.src, r.dst) for r in rows)
    src, dst = oracles.transcript_edges(path)
    assert list(zip(src.tolist(), dst.tolist())) == want
