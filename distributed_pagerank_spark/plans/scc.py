"""Strongly connected components via iterative coloring (directed SCC).

No reference counterpart (the reference computes only PageRank; its
graph is directed but only ranked). Semantics: exact SCCs of the
directed simple graph, labeled by the minimum member id.

Algorithm — the label-propagation / coloring scheme (Orzan's coloring,
re-derived; the standard distributed SCC that needs no DFS):

Per OUTER round over the remaining subgraph:

1. **Color** (forward max fixpoint): ``c(v) = max id that reaches v``
   (including v). Propagated like hash-min CC but directed and max;
   each color class {v : c(v)=c} always contains its root c (if a
   bigger id reached c it would also reach the whole class — so the
   root is the MAXIMUM id of its class), and an SCC never straddles
   classes (mutually reachable vertices see the same reacher set).
2. **Confirm** (within-class backward reachability to the root):
   because the root is the class maximum, ``v`` reaches its root inside
   the class iff ``m(v) = c(v)``, where ``m(v) = max id reachable from
   v along class-internal edges`` — ANOTHER max fixpoint, over the
   reversed class-restricted edge set (built once per outer round).
   Confirmed vertices reach the root ⇒ the root reaches them (that is
   what the color says) ⇒ together they are exactly SCC(root).
3. **Extract**: assign confirmed vertices, drop them from the subgraph.
   Removing a whole SCC never disconnects another (any path certifying
   mutual reachability lies wholly inside its own SCC), and every
   nonempty class extracts its root SCC, so the remainder strictly
   shrinks — typically by most of the graph in round one.

Both fixpoints POINTER-JUMP: every label value is a vertex id carrying
the fixpoint's reach invariant (``c(v) reaches v``; ``m(v)`` is
reachable from v in-class), so folding in ``label(label(v))`` per round
is sound and halves the remaining propagation distance — O(log d)
rounds instead of O(d). On the 400-vertex functional-graph fixture the
giant SCC's internal cycle is ~10² long: plain propagation paid ~200
one-hop rounds across the two fixpoints of outer round 1 alone (~400 s
at 32 threads, jobs dominated by fixed scheduling cost); jumping closes
the same color fixpoint in 18 rounds (~11 s measured).

Both fixpoints run on ``supersteps()`` (``plans/loop.py``): one job per
round, in which the round's changed-label count is the statistic that
materializes the new label vector as a flat snapshot leaf.

Scale shape: both fixpoints move only |V_r|-sized label vectors against
a per-round cached-and-shrinking edge set (same gather-scatter economy
as the PageRank loop); the edge set shrinks by semi-joins against the
unassigned remainder, broadcast when it is small. Worst case (a chain
of SCCs in adversarial id order) degrades to O(chain length) outer
rounds — the same worst case every coloring-family SCC algorithm has
without DFS.

Final labels are canonicalized to the minimum member id (one
aggregation + broadcast join), so output is independent of which member
happened to be the color root.
"""

from __future__ import annotations

import time
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.plans.loop import (
    SuperstepRun,
    loop_conf,
    release_local_checkpoint,
    supersteps,
)


def _max_prop(
    spark: SparkSession,
    edges_r: DataFrame,
    state: DataFrame,
    max_rounds: int,
    num_partitions: int,
    gather_from: str,
    group_to: str,
    release: tuple[DataFrame, ...] = (),
) -> SuperstepRun:
    """Jump-accelerated directed max-label fixpoint over ``(id, c)``.

    Per round ``c(v)`` folds in (a) the max label across incident edges
    — labels read at the ``gather_from`` endpoint, delivered to the
    ``group_to`` endpoint — and (b) the pointer jump ``c(c(v))``, sound
    because every label is a vertex id carrying the fixpoint's
    reachability invariant. Converges in O(log d) rounds; stops when no
    label changed. The caller owns ``run.snapshot`` (the final label
    vector's leaf) and releases it once nothing derived from it is lazy."""

    def step(prev: DataFrame, last: dict[str, Any] | None) -> DataFrame:
        nbr = (
            edges_r.join(prev, edges_r[gather_from] == prev["id"])
            .groupBy(group_to)
            .agg(F.max("c").alias("mx"))
        )
        jump = prev.select(
            F.col("id").alias("__jid"), F.col("c").alias("__jc")
        )
        return (
            prev.join(nbr, prev["id"] == nbr[group_to], "left")
            .join(jump, prev["c"] == F.col("__jid"), "left")
            .select(
                "id",
                prev["c"].alias("old"),
                F.greatest(
                    prev["c"],
                    F.coalesce("mx", prev["c"]),
                    F.coalesce("__jc", prev["c"]),
                ).alias("c"),
            )
        )

    return supersteps(
        spark, state, step,
        {"changed": F.count(F.when(F.col("c") != F.col("old"), 1))},
        lambda s: s["changed"] == 0,
        max_steps=max_rounds, num_partitions=num_partitions, release=release,
    )


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 50,
    max_prop: int = 200,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """→ ``(id long, component long)``: component = min vertex id of the
    strongly connected component (singletons label themselves)."""
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    metrics = metrics_out if metrics_out is not None else []
    raw = edges.select("src", "dst").persist()
    # materialized (and cached) by the first color round, which also
    # releases ``raw``
    cur = (
        raw.where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(num_partitions, "src")
        .persist()
    )
    # vertex set from the UN-filtered input: a vertex whose only edge is a
    # self-loop is still a (singleton) SCC and must appear in the output
    verts = vertices_from_edges(raw)
    flag_leaves: list[DataFrame] = []

    with loop_conf(spark):
        for outer in range(1, max_outer + 1):
            t0 = time.monotonic()

            # 1. color: forward max-label fixpoint with pointer jumps
            colors = _max_prop(
                spark, cur, verts.select("id", F.col("id").alias("c")),
                max_prop, num_partitions,
                gather_from="src", group_to="dst",
                release=(raw,) if outer == 1 else (),
            )

            # 2. confirm: within-class backward reachability to the root.
            # Build the class-restricted edge set once (both endpoints the
            # same color), then run the same jumping max fixpoint on it in
            # the REVERSE direction: m(v) = max id reachable from v along
            # class edges; v reaches the root iff m(v) == c(v) (the root
            # is the class maximum).
            csrc = colors.state.select(
                F.col("id").alias("__cs"), F.col("c").alias("__ccs")
            )
            cdst = colors.state.select(
                F.col("id").alias("__cd"), F.col("c").alias("__ccd")
            )
            # a leaf, so the reach rounds do not re-run these joins;
            # materialized by the first reach round
            class_edges = (
                cur.join(csrc, cur["src"] == F.col("__cs"))
                .join(cdst, cur["dst"] == F.col("__cd"))
                .where(F.col("__ccs") == F.col("__ccd"))
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
            reach = _max_prop(
                spark, class_edges,
                colors.state.select("id", F.col("id").alias("c")),
                max_prop, num_partitions,
                gather_from="dst", group_to="src",
            )

            # 3. extract: one leaf of (id, color, confirmed), materialized
            # by the single job that counts both sides of the split. It
            # cuts the fixpoints' lineage, so their leaves go now; the
            # assigned and remaining filters read it until ``out`` is built
            flags = (
                colors.state.withColumnRenamed("c", "color")
                .join(reach.state.withColumnRenamed("c", "m"), "id")
                .select(
                    "id",
                    F.col("color").alias("c"),
                    (F.col("m") == F.col("color")).alias("flag"),
                )
                .localCheckpoint(eager=False)
            )
            split = flags.agg(
                F.count(F.when(F.col("flag"), 1)).alias("assigned"),
                F.count(F.when(~F.col("flag"), 1)).alias("remaining"),
            ).first()
            flag_leaves.append(flags)
            n_rem = split["remaining"]
            metrics.append(
                {
                    "outer": outer,
                    "assigned": split["assigned"],
                    "remaining": n_rem,
                    "total_s": round(time.monotonic() - t0, 4),
                }
            )
            for leaf in (colors.snapshot, reach.snapshot, class_edges):
                release_local_checkpoint(leaf)
            if n_rem == 0:
                break
            # shrink the subgraph to the unassigned remainder. Flattened
            # to a localCheckpoint LEAF, not a persist: every inner
            # fixpoint round embeds cur's logical tree, so a
            # persist-chained cur that deepens by two joins per outer
            # round would grow every later round's plan.
            remaining = flags.where(~F.col("flag")).select("id")
            rem_b = (
                F.broadcast(remaining) if n_rem <= 1_000_000 else remaining
            )
            nxt_edges = (
                cur.join(rem_b, cur["src"] == rem_b["id"], "left_semi")
                .join(rem_b, cur["dst"] == rem_b["id"], "left_semi")
                .localCheckpoint(eager=True)
            )
            release_local_checkpoint(cur)
            cur = nxt_edges
            verts = remaining
        else:
            raise RuntimeError(
                f"SCC did not converge in {max_outer} outer rounds"
            )

    release_local_checkpoint(cur)
    labeled = reduce(DataFrame.unionByName, [
        flags.where(F.col("flag")).select("id", F.col("c").alias("root"))
        for flags in flag_leaves
    ])
    # canonicalize: component = min member id (root is the max-reaching
    # member, an artifact of the coloring order)
    # plain equi-join: canon has one row per SCC, which can approach |V|
    # (all-singleton graphs) — not broadcastable in general; AQE promotes
    # it to broadcast when it is actually small
    canon = labeled.groupBy("root").agg(F.min("id").alias("component"))
    out = (
        labeled.join(canon, "root")
        .select("id", "component")
        .localCheckpoint(eager=True)
    )
    for flags in flag_leaves:
        release_local_checkpoint(flags)
    return out
