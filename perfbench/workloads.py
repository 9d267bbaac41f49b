"""The benchmark's workloads: seeded inputs, timed calls, oracle checks.

Each workload writes its input table once per run (untimed), then runs
repetitions of its timed pipeline. Every call into the engine is one span
and materializes its result on the driver inside that span, so the span's
wall time is the user's time to an answer. Expected answers are computed
once per run from the parquet files with DuckDB and NumPy (``oracles.py``);
Spark never checks itself.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np

import oracles
from rmat import rmat_edges

TRANSCRIPT_CONVS = 4_000
LPA_ROUNDS = 5
RMAT_SCALE = 13
RMAT_EDGE_FACTOR = 16
RMAT_SALT = 8
PR_ARGS = dict(c=0.85, eps=1e-6, max_iter=100)
# looser stop on R-MAT: 27 supersteps instead of 53 keeps a run inside the
# benchmark's time budget; the oracle uses the same stop
RMAT_PR_ARGS = dict(PR_ARGS, eps=1e-4)


@dataclass
class Call:
    """One timed call into a layer and what it returned."""

    name: str
    span: str
    seconds: float = 0.0
    output: Any = None
    timers: list[float] = field(default_factory=list)  # per superstep
    changed: list[int] = field(default_factory=list)  # per superstep
    supersteps: int = 0
    error: str | None = None


def edge_arrays(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Read a Spark-written edge table with DuckDB, sorted by (src, dst)."""
    con = duckdb.connect()
    try:
        cols = con.execute(
            f"SELECT src, dst FROM read_parquet('{path}/*.parquet') ORDER BY src, dst"
        ).fetchnumpy()
    finally:
        con.close()
    return cols["src"].astype(np.int64), cols["dst"].astype(np.int64)


def graph_stats(src: np.ndarray, dst: np.ndarray) -> dict[str, int]:
    _, in_deg = np.unique(dst, return_counts=True)
    return dict(vertices=len(np.unique(np.concatenate([src, dst]))),
                edges=len(src), max_in_degree=int(in_deg.max()))


def ckpt_stats(path: str) -> tuple[int, int]:
    """→ (bytes on disk, committed snapshots) of a checkpoint directory."""
    total, snapshots = 0, 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        snapshots += "manifest.json" in files
    return total, snapshots


def _same_rows(got, ids: np.ndarray, col: str, want: np.ndarray) -> bool:
    got = got.sort_values("id")
    return np.array_equal(got["id"].to_numpy(), ids) and np.array_equal(
        got[col].to_numpy(), want)


class Workload:
    """Input generation, the timed calls of one repetition, their checks."""

    name = ""
    why = ""

    def __init__(self, dps, spark, sandbox, seed: int):
        self.dps, self.spark, self.sandbox, self.seed = dps, spark, sandbox, seed
        self.graph: dict[str, int] = {}
        self.ckpt_bytes = 0
        self.ckpt_snapshots = 0
        self.expected: dict[str, Any] = {}

    def call(self, tracer, name: str, span: str, fn: Callable[[Call], Any]) -> Call:
        c = Call(name, span)
        with tracer.span(span) as s:
            try:
                c.output = fn(c)
            except Exception as exc:  # a failed call is counted, not fatal
                c.error = f"{name}: {type(exc).__name__}: {exc}"
        c.seconds = s.wall_s
        return c

    def pagerank(self, tracer, edges, **kwargs) -> Call:
        def run(c: Call):
            r = self.dps.pagerank(self.spark, edges, **kwargs)
            ranks = r.ranks.toPandas()
            c.supersteps = r.iterations
            c.timers = [m["total_s"] for m in r.metrics]
            return ranks

        return self.call(tracer, "pagerank", "plans.pagerank", run)

    def check(self, calls: list[Call]) -> list[str | None]:
        """One verdict per call: None if it matched its oracle."""
        return [c.error or getattr(self, f"check_{c.name}")(c) for c in calls]

    def check_pagerank(self, c: Call) -> str | None:
        ids, ranks, iterations, _ = self.expected["pagerank"]
        if c.supersteps != iterations:
            return f"pagerank: {c.supersteps} supersteps, oracle {iterations}"
        got = c.output.sort_values("id")
        if not np.array_equal(got["id"].to_numpy(), ids):
            return "pagerank: vertex set differs from the oracle's"
        if not np.allclose(got["rank"].to_numpy(), ranks, rtol=1e-6, atol=0.0):
            return "pagerank: ranks differ from the oracle's beyond rtol 1e-6"
        return None


class Transcripts(Workload):
    name = "transcripts"
    why = ("BASELINE shape: derived reply/tool chain forest; PageRank to 1e-6 with "
           "every vertex active, then durable CC (active set decays) and LPA "
           "(every label changes)")

    def prepare(self) -> None:
        self.transcripts = self.sandbox.fresh("transcripts")
        self.dps.synth_transcripts(
            self.spark, n_convs=TRANSCRIPT_CONVS, seed=self.seed
        ).write.parquet(self.transcripts)

    def rep(self, tracer) -> list[Call]:
        spark, dps = self.spark, self.dps
        path = self.sandbox.fresh("edges")

        def derive(c: Call):
            dps.derive_edges(spark.read.parquet(self.transcripts)).write.parquet(path)
            return path

        calls = [self.call(tracer, "derive_edges", "sources.transcripts", derive)]
        if calls[0].error:
            return calls
        edges = spark.read.parquet(path)
        calls.append(self.pagerank(tracer, edges, **PR_ARGS))

        dirs = [self.sandbox.fresh("ckpt-cc"), self.sandbox.fresh("ckpt-lpa")]

        def labels(algo, **kwargs):
            def run(c: Call):
                metrics: list[dict] = []
                out = algo(spark, edges, metrics_out=metrics, **kwargs).toPandas()
                c.timers = [m["iter_s"] for m in metrics]
                c.changed = [m["changed"] for m in metrics]
                c.supersteps = len(metrics)
                return out

            return run

        calls.append(self.call(
            tracer, "connected_components", "plans.components",
            labels(dps.connected_components, checkpoint_dir=dirs[0])))
        calls.append(self.call(
            tracer, "label_propagation", "plans.labelprop",
            labels(dps.label_propagation, rounds=LPA_ROUNDS, checkpoint_dir=dirs[1])))
        stats = [ckpt_stats(d) for d in dirs]
        self.ckpt_bytes = sum(b for b, _ in stats)
        self.ckpt_snapshots = sum(n for _, n in stats)
        return calls

    def check(self, calls: list[Call]) -> list[str | None]:
        if not self.expected:
            src, dst = oracles.transcript_edges(self.transcripts)
            self.graph = graph_stats(src, dst)
            self.expected = dict(
                edges=(src, dst),
                pagerank=oracles.pagerank(src, dst, **PR_ARGS),
                components=oracles.components(src, dst),
                labels=oracles.label_propagation(src, dst, LPA_ROUNDS),
            )
        return super().check(calls)

    def check_derive_edges(self, c: Call) -> str | None:
        src, dst = edge_arrays(c.output)
        want_src, want_dst = self.expected["edges"]
        if len(src) != len(want_src):
            return f"derive_edges: {len(src)} edges, oracle {len(want_src)}"
        if not (np.array_equal(src, want_src) and np.array_equal(dst, want_dst)):
            return "derive_edges: edge set differs from the oracle's"
        return None

    def check_connected_components(self, c: Call) -> str | None:
        ids, comp = self.expected["components"]
        if not _same_rows(c.output, ids, "component", comp):
            return "connected_components: labels differ from the oracle's"
        return None

    def check_label_propagation(self, c: Call) -> str | None:
        ids, labels, _, changed = self.expected["labels"]
        if c.changed != changed:
            return f"label_propagation: changed {c.changed}, oracle {changed}"
        if not _same_rows(c.output, ids, "label", labels):
            return "label_propagation: labels differ from the oracle's"
        return None


class RmatSkew(Workload):
    name = "rmat_skew"
    why = ("Graph500 R-MAT power-law hubs: wedge joins in triangle counting and "
           "salted two-stage PageRank aggregation; no transcripts layer")

    def prepare(self) -> None:
        self.edge_path = self.sandbox.fresh("rmat")
        rmat_edges(self.spark, RMAT_SCALE, RMAT_EDGE_FACTOR,
                   seed=self.seed).write.parquet(self.edge_path)

    def check(self, calls: list[Call]) -> list[str | None]:
        if not self.expected:
            src, dst = edge_arrays(self.edge_path)
            self.expected = dict(triangles=oracles.triangles(src, dst),
                                 pagerank=oracles.pagerank(src, dst, **RMAT_PR_ARGS))
            self.graph = dict(graph_stats(src, dst), triangles=self.expected["triangles"])
        return super().check(calls)

    def rep(self, tracer) -> list[Call]:
        edges = self.spark.read.parquet(self.edge_path)
        return [
            self.call(tracer, "triangle_count", "plans.triangles",
                      lambda c: self.dps.triangle_count(self.spark, edges).first()[0]),
            self.pagerank(tracer, edges, skew_salt=RMAT_SALT, **RMAT_PR_ARGS),
        ]

    def check_triangle_count(self, c: Call) -> str | None:
        want = self.expected["triangles"]
        return None if c.output == want else f"triangle_count: {c.output}, oracle {want}"


WORKLOADS = {w.name: w for w in (Transcripts, RmatSkew)}
