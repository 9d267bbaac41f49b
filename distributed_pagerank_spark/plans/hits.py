"""HITS (hubs & authorities) — the directed companion to PageRank.

No reference implementation exists (lioia/distributed-pagerank computes
only PageRank); semantics are Kleinberg's mutual-reinforcement fixpoint
with per-step L1 normalization:

- ``auth_i(v) = Σ_{(u,v)∈E} hub_{i-1}(u)``, then ``auth_i /= Σ auth_i``
- ``hub_i(u)  = Σ_{(u,v)∈E} auth_i(v)``,   then ``hub_i  /= Σ hub_i``

(L1 rather than L2 normalization — the scale factor is arbitrary for the
power iteration, and L1 keeps the fixed-k oracle twin in exact decimal
SQL, no sqrt.)

One materializing job per iteration over AUTH-ONLY state: because L1
normalization is scale-invariant, substituting the hub update into the
auth update gives ``auth_i = norm(Eᵀ·(E·auth_{i-1}))`` EXACTLY — the
intermediate hub vector needs no normalization of its own (the scalar
cancels inside norm), so the loop carries just the auth vector and
chains both gathers inside a single superstep (``plans/loop.py``). The
superstep's statistic is the raw L1 auth mass; the normalizing division
is applied lazily as a driver literal over the checkpointed snapshot —
exact per-step normalization, no magnitude drift. The hub vector is
derived once after the loop (``hub = norm(E·auth_k)``).

Scale shape: the edge table is cached TWICE, once partitioned+sorted by
``src`` (the auth gather joins hub contributions on src) and once by
``dst`` (the hub gather joins auth on dst) — both gathers are then
co-located sort-merge joins where only the |V|-sized score vectors move,
the same one-shuffle-per-gather property as the PageRank loop
(``plans/pagerank.py``). At 100 TB the duplicated edge cache trades 2×
storage for zero per-iteration edge shuffles — the right trade when
iterations dominate.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.plans.loop import (
    release_local_checkpoint,
    supersteps,
)


@dataclass
class HitsResult:
    scores: DataFrame  # (id long, hub double, auth double)
    iterations: int
    delta: float
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    eps: float = 0.0,
    num_partitions: int | None = None,
) -> HitsResult:
    """Run HITS to ``max_iter`` rounds (or L1-delta ≤ eps on auth, when
    eps > 0 — the delta check costs one extra scalar agg per round over
    the cached state, so the fixed-k path sets eps=0 and pays nothing).

    Returns normalized ``(id, hub, auth)`` over all vertices; vertices
    with no in-links get auth 0, with no out-links hub 0.

    The auth vector between rounds is an unreplicated local checkpoint
    (``plans/loop.py``): on a cluster, losing an executor aborts the run,
    and HITS has no durable ``checkpoint_dir`` path yet — rerun it.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # one scan of the raw input feeds both cached orientations
    e = edges.select("src", "dst").distinct().persist()
    e_src = (
        e.repartition(num_partitions, "src").sortWithinPartitions("src").persist()
    )
    e_dst = (
        e.repartition(num_partitions, "dst").sortWithinPartitions("dst").persist()
    )
    # one materializing job fills BOTH orientation caches: evaluating the
    # union evaluates each child, populating its persisted blocks (r6;
    # same observation-era fusion pattern as plans/bfs.py). Its count also
    # carries the empty-graph check (no vertex without an edge), so the
    # init state below needs no eager count of its own.
    if e_src.unionByName(e_dst).count() == 0:
        e.unpersist()
        e_src.unpersist()
        e_dst.unpersist()
        raise ValueError("empty edge table: no vertices to score")
    verts = vertices_from_edges(e)

    # auth-only state (module docstring): hub_0 is the uniform 1/n vector,
    # so round 1's hub gather source IS the init state. The vertex count
    # rides the state materialization as a broadcast one-row aggregate
    # (1.0/__n is the same IEEE double division as the former Python
    # literal); the distinct-edge cache ``e`` is released once round 1
    # has materialized the state.
    cnt = verts.agg(F.count(F.lit(1)).alias("__n"))
    state = verts.crossJoin(F.broadcast(cnt)).select(
        "id", (F.lit(1.0) / F.col("__n")).alias("auth")
    )

    def step(state: DataFrame, last: dict[str, Any] | None) -> DataFrame:
        if last is None:
            # hub_0 == the uniform init vector: gather it directly
            h_tmp = state.select(F.col("id").alias("hid"), F.col("auth").alias("h"))
        else:
            # un-normalized intermediate hub E·auth — the scalar
            # cancels inside the auth normalization
            h_tmp = (
                e_dst.join(state, e_dst["dst"] == state["id"])
                .groupBy(F.col("src").alias("hid"))
                .agg(F.sum("auth").alias("h"))
            )
        a_sums = (
            e_src.join(h_tmp, e_src["src"] == F.col("hid"))
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        cols = ["id", F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("auth_raw")]
        if eps > 0.0:
            cols.append(F.col("auth").alias("auth_old"))  # for the L1 delta
        return state.join(a_sums, state["id"] == a_sums["dst"], "left").select(*cols)

    def derive(snapshot: DataFrame, s: dict[str, Any]) -> DataFrame:
        # lazy normalization: a driver literal over the cached snapshot
        auth = F.col("auth_raw") / F.lit(float(s["a_mass"] or 1.0))
        if eps > 0.0:
            s["delta"] = (
                snapshot.agg(F.sum(F.abs(auth - F.col("auth_old")))).first()[0]
                or 0.0
            )
        return snapshot.select("id", auth.alias("auth"))

    run = supersteps(
        spark, state, step, {"a_mass": F.sum("auth_raw")},
        lambda s: eps > 0.0 and s["delta"] <= eps, derive=derive,
        max_steps=max_iter, num_partitions=num_partitions, release=[e],
    )

    # final hub vector: hub_k = norm(E·auth_k) — one extra job
    auth_vec = run.state
    h_sums = (
        e_dst.join(auth_vec, e_dst["dst"] == auth_vec["id"])
        .groupBy(F.col("src").alias("hid"))
        .agg(F.sum("auth").alias("h_raw"))
    )
    scores_raw = (
        auth_vec.join(h_sums, auth_vec["id"] == F.col("hid"), "left")
        .select(
            "id",
            F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("hub_raw"),
            "auth",
        )
        .localCheckpoint(eager=False)
    )
    h_mass = scores_raw.agg(F.sum("hub_raw")).first()[0] or 1.0

    e_src.unpersist()
    e_dst.unpersist()
    release_local_checkpoint(run.snapshot)
    scores = scores_raw.select(
        "id", (F.col("hub_raw") / F.lit(float(h_mass))).alias("hub"), "auth"
    )
    return HitsResult(
        scores, run.iteration, run.stats.get("delta", float("inf")),
        run.converged, run.records,
    )
