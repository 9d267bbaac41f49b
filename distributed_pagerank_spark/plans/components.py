"""Connected components via hash-min label exchange (north-rule N1).

No reference implementation exists (the reference computes only PageRank);
semantics fixed by SURVEY §2.4: treat edges as undirected, iterate
``label(v) ← min(label(v), min over neighbors' labels)`` to fixpoint.
Exact output: ``(id, component)`` where component = min vertex id in the
component.

Per-iteration plan: one join of the label vector into the cached
symmetrized edge table, one min-aggregation by dst, one left join back —
the same shuffle structure as the PageRank loop, so the same scale
properties hold (static edges cached + pre-partitioned; only the label
vector moves). Convergence = zero changed labels (scalar agg).

Two algorithms, identical output (same fixpoint):

- ``algorithm='hashmin'`` — the plain exchange above: O(diameter)
  rounds. Fine for shallow graphs (conversation chains of ≤12 turns),
  and the SQL-twinnable oracle tier (fixed-iteration unrolled twin).
- ``algorithm='hybrid'`` (DEFAULT) — plain hash-min, switching pointer
  jumping on permanently the first time the per-round ``changed`` count
  goes FLAT (``0.7 × prev < changed ≤ prev``). A jumping round also
  folds in ``label(label(v))`` via a self-join of the label vector,
  halving pointer-chain depth per round → O(log diameter) rounds. Labels
  only ever decrease and always name a vertex of the same component, and
  any state that is not the component-min is not a hash-min fixpoint, so
  the fixpoint is identical to hash-min's; a 10^5-long chain converges
  in ~17 rounds instead of 10^5. Flat decay is the signature of a long
  pointer chain draining one hop per round (a length-n chain changes
  n−t labels in round t → ratio ≈ 1), which is exactly when pointer
  jumping pays. Shallow graphs never trip it: their ``changed`` series
  is an expanding-then-collapsing wave (measured on the supplier
  co-occurrence graph: [1000, 14998, 937, 1602, 0] — every ratio is
  either growth > 1 or collapse < 0.7), so the |V|-sized jump self-join
  — a measured ~1.3× per-round tax that buys zero round reduction there
  — never runs. A round-20 backstop arms the jumps unconditionally in
  case an adversarial ``changed`` series ping-pongs around the flat band
  forever, bounding any run at 20 + O(log diameter) rounds.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import (
    symmetrize,
    vertices_from_edges,
)
from distributed_pagerank_spark.plans.loop import supersteps

# hybrid: arm the jumps when changed decays by less than this factor ...
STALL_DECAY = 0.7
# ... or unconditionally after this many rounds of one call
JUMP_BACKSTOP_ROUND = 20


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
    algorithm: str = "hybrid",
) -> DataFrame:
    """→ ``(id long, component long)`` at fixpoint.

    The label vector between rounds is an unreplicated local checkpoint
    (``plans/loop.py``): on a cluster, losing an executor aborts the run.
    Pass ``checkpoint_dir=`` to snapshot it to Parquet every
    ``checkpoint_interval`` rounds; a rerun with the same graph resumes
    from the newest complete snapshot. ``metrics_out`` receives one
    record per round (``changed``, ``jumping``, timings).
    """
    if algorithm not in ("hashmin", "hybrid"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # one scan of the raw input: the 2-column projection is cached and the
    # symmetrized table AND the vertex set (which must keep self-loop-only
    # vertices that symmetrize drops) both derive from it
    raw = edges.select("src", "dst").persist()
    sym = (
        symmetrize(raw)
        .repartition(num_partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    sym.count()
    labels = vertices_from_edges(raw).select("id", F.col("id").alias("component"))

    changed: list[int] = []  # per round of this call
    jumps: list[bool] = []  # per round of this call: ran the jump join

    def step(labels: DataFrame, last: dict[str, Any] | None) -> DataFrame:
        if last is not None:
            changed.append(last["changed"])
        # flat decay = a long pointer chain draining one hop per round:
        # switch the O(log d) jump join on for the rest of the run.
        # (Growth > 1 is an expanding wave on a shallow graph — healthy
        # hash-min progress, no jumps.)
        jumping = algorithm == "hybrid" and (
            (bool(jumps) and jumps[-1])
            or len(changed) >= JUMP_BACKSTOP_ROUND
            or (len(changed) >= 2
                and STALL_DECAY * changed[-2] < changed[-1] <= changed[-2])
        )
        jumps.append(jumping)
        nbr = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_min"))
        )
        candidate = F.coalesce(F.col("nbr_min"), F.col("component"))
        plan = labels.join(nbr, labels["id"] == nbr["dst"], "left")
        if jumping:
            # pointer jump: label(label(v)). Every label value is a vertex
            # id (init = own id; min over ids), so the self-join resolves.
            # The label vector is |V|-sized — this join shuffles only it.
            jump = labels.select(
                F.col("id").alias("__lid"), F.col("component").alias("__lcomp")
            )
            plan = plan.join(jump, F.col("component") == F.col("__lid"), "left")
            candidate = F.least(
                candidate, F.coalesce(F.col("__lcomp"), F.col("component"))
            )
        # the old label rides the snapshot for the changed count
        return plan.select(
            "id",
            F.col("component").alias("old"),
            F.least(F.col("component"), candidate).alias("component"),
        )

    run = supersteps(
        spark, labels, step,
        {"changed": F.count(F.when(F.col("component") != F.col("old"), 1))},
        lambda s: s["changed"] == 0,
        max_steps=max_iter, num_partitions=num_partitions, release=[raw],
        edges=sym, algo="connected_components", fingerprint="cc",
        checkpoint_dir=checkpoint_dir, checkpoint_interval=checkpoint_interval,
        resume=resume,
    )
    sym.unpersist()
    for rec, jumped in zip(run.records, jumps):
        rec.update(jumping=jumped, iter_s=rec["total_s"])
    if metrics_out is not None:
        metrics_out.extend(run.records)
    return run.state.select("id", "component")
