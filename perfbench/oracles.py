"""Independent result checks for the benchmark: NumPy, pandas and DuckDB only.

None of this touches Spark or imports the engine. :func:`transcript_edges`
derives the edge table from the transcripts parquet; every other function
takes an edge list as two int64 arrays ``(src, dst)``. Each returns the
exact answer the engine must reproduce:

- :func:`transcript_edges` — reply edges (turn → previous turn) and tool
  edges (tool-calling assistant turn → the tool turn right after it), in
  DuckDB, with vertex ids from :func:`vertex_id`, a pure-Python
  re-implementation of Spark's ``xxhash64(conv_id, turn_idx)``;
- :func:`pagerank` — reference semantics (distinct edges, uniform ``e``,
  no dangling redistribution, L1 stop, one normalization at the end),
  vectorized with ``bincount``;
- :func:`components` — min-id connected components of the undirected view;
- :func:`label_propagation` — synchronous LPA on the undirected simple
  graph, most frequent neighbour label, ties to the smallest label;
- :func:`triangles` — exact undirected triangle count (DuckDB, degree
  ordered so hubs do not enumerate their wedges).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import duckdb
import numpy as np
import pandas as pd

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42  # Spark's xxhash64 starts every row from this seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of an input shorter than 32 bytes (Spark's ``XXH64``)."""
    if len(data) >= 32:
        raise ValueError("only inputs shorter than 32 bytes are supported")
    h = (seed + _P5 + len(data)) & _M64
    i = 0
    while i + 8 <= len(data):
        k = (_rotl(struct.unpack_from("<Q", data, i)[0] * _P2 & _M64, 31) * _P1) & _M64
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= len(data):
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h = (_rotl(h ^ (byte * _P5 & _M64), 11) * _P1) & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


@lru_cache(maxsize=None)
def _conv_hash(conv_id: str) -> int:
    return _xxh64(conv_id.encode(), SPARK_HASH_SEED)


def vertex_id(conv_id: str, turn_idx: int) -> int:
    """Spark's ``xxhash64(conv_id, CAST(turn_idx AS int))``, as a signed long."""
    h = _xxh64(struct.pack("<i", turn_idx), _conv_hash(conv_id))
    return h - (1 << 64) if h >> 63 else h


def transcript_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """→ the distinct derived edges of a transcripts parquet dir, sorted by
    (src, dst)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH t AS (
                SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, role, tool,
                       lag(turn_idx) OVER w AS prev_idx,
                       lead(turn_idx) OVER w AS next_idx,
                       lead(role) OVER w AS next_role
                FROM read_parquet('{path}/*.parquet')
                WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
            SELECT conv_id, turn_idx, prev_idx FROM t WHERE prev_idx IS NOT NULL
            UNION ALL
            SELECT conv_id, turn_idx, next_idx FROM t
            WHERE role = 'assistant' AND tool IS NOT NULL AND next_role = 'tool'
            """
        ).fetchall()
    finally:
        con.close()
    pairs = np.array([(vertex_id(c, a), vertex_id(c, b)) for c, a, b in rows],
                     dtype=np.int64).reshape(-1, 2)
    pairs = np.unique(pairs, axis=0)  # lexicographic: sorted by (src, dst)
    return pairs[:, 0], pairs[:, 1]


def _index(src: np.ndarray, dst: np.ndarray):
    """→ (sorted vertex ids, src index, dst index) over all endpoints."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, c: float = 0.85, eps: float = 1e-6, max_iter: int = 100):
    """→ (ids, ranks, iterations, delta)."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids, s, d = _index(pairs[:, 0], pairs[:, 1])
    n = len(ids)
    out_degree = np.bincount(s, minlength=n).astype(np.float64)
    e = np.full(n, 1.0 / n)
    rank = np.full(n, 1.0 / n)
    iterations, delta = 0, float("inf")
    while delta > eps and iterations < max_iter:
        iterations += 1
        new = c * np.bincount(d, weights=rank[s] / out_degree[s], minlength=n)
        new += (1.0 - c) * e
        delta = float(np.abs(new - rank).sum())
        rank = new
    return ids, rank / rank.sum(), iterations, delta


def components(src, dst):
    """→ (ids, component) where component is the smallest id reachable."""
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    label = np.arange(len(ids))  # ids are sorted, so min index == min id
    while True:
        hooked = label.copy()
        m = np.minimum(label[s], label[d])
        np.minimum.at(hooked, s, m)
        np.minimum.at(hooked, d, m)
        while True:  # pointer jumping to the root of each hooked tree
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, label):
            return ids, ids[label]
        label = hooked


def _undirected(src, dst):
    """Distinct symmetric (s, d) index pairs without self-loops."""
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    keep = s != d
    both = np.concatenate(
        [np.stack([s[keep], d[keep]], 1), np.stack([d[keep], s[keep]], 1)]
    )
    both = np.unique(both, axis=0)
    return ids, both[:, 0], both[:, 1]


def label_propagation(src, dst, rounds: int):
    """→ (ids, labels, rounds run, changed count per round).

    Stops early at the first round that changes nothing (that round is
    counted, as the engine counts it). Vertices without a neighbour other
    than themselves keep their own id.
    """
    ids, s, d = _undirected(src, dst)
    label = ids.copy()
    changed_series = []
    for _ in range(rounds):
        nbr_label = label[s]
        f = pd.DataFrame({"dst": d, "label": nbr_label})
        cnt = f.groupby(["dst", "label"], sort=False).size().reset_index(name="cnt")
        cd, cl, cc = (cnt[k].to_numpy() for k in ("dst", "label", "cnt"))
        order = np.lexsort((cl, -cc, cd))  # per dst: most frequent, then smallest
        cd, cl = cd[order], cl[order]
        first = np.ones(len(cd), dtype=bool)
        first[1:] = cd[1:] != cd[:-1]
        new = label.copy()
        new[cd[first]] = cl[first]
        changed = int((new != label).sum())
        changed_series.append(changed)
        label = new
        if changed == 0:
            break
    return ids, label, len(changed_series), changed_series


def triangles(src, dst) -> int:
    edges = pd.DataFrame({"src": np.asarray(src), "dst": np.asarray(dst)})
    con = duckdb.connect()
    try:
        con.register("edges", edges)
        return int(
            con.execute(
                """
                WITH u AS (
                    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM edges WHERE src <> dst),
                deg AS (
                    SELECT v, count(*) AS k
                    FROM (SELECT a AS v FROM u UNION ALL SELECT b FROM u)
                    GROUP BY v),
                o AS (  -- orient each edge from lower to higher (degree, id)
                    SELECT CASE WHEN da.k < db.k OR (da.k = db.k AND u.a < u.b)
                                THEN u.a ELSE u.b END AS s,
                           CASE WHEN da.k < db.k OR (da.k = db.k AND u.a < u.b)
                                THEN u.b ELSE u.a END AS t
                    FROM u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b)
                SELECT count(*) FROM o x
                JOIN o y ON y.s = x.t
                JOIN o z ON z.s = x.s AND z.t = y.t
                """
            ).fetchone()[0]
        )
    finally:
        con.close()
