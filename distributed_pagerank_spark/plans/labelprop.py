"""Label propagation (north-rule N2) — synchronous, deterministic.

Semantics (SURVEY §2.4): init ``label(v) = v``; each round every vertex
takes the most frequent label among its (undirected) neighbors, breaking
ties toward the SMALLEST label — fully deterministic, unlike classic
async LPA. Runs a fixed round budget or stops early at fixpoint.

Plan per round: join label vector into cached symmetrized edges →
``groupBy(dst, label).count()`` (two-phase hash agg, map-side combine) →
top-1 per dst via ``max_by`` on the (count, -label) ordering — expressed
as ``max(struct(count, -label))`` so it stays a single aggregation
(no window sort shuffle).
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


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 2,
    resume: bool = True,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """→ ``(id long, label long)`` after ``rounds`` synchronous rounds
    (early-stops at fixpoint).

    The label vector between rounds is an unreplicated local checkpoint
    (``plans/loop.py``): on a cluster, losing an executor aborts the run.
    Pass ``checkpoint_dir=`` to snapshot it to Parquet every
    ``checkpoint_interval`` rounds and after the last; a rerun with the
    same graph resumes from the newest complete snapshot.
    ``metrics_out`` receives one record per round (``changed``, timings).
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # one scan of the raw input (see components.py): sym + vertex set both
    # derive from the cached 2-column projection
    raw = edges.select("src", "dst").persist()
    sym = (
        symmetrize(raw)
        .repartition(num_partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    sym.count()
    labels = vertices_from_edges(raw).select("id", F.col("id").alias("label"))

    def step(labels: DataFrame, last: dict[str, Any] | None) -> DataFrame:
        freq = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # top-1 label per dst: max over (cnt, -label) orders by frequency
        # then smallest label — one agg, no window sort.
        top = freq.groupBy("dst").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        ).select("dst", (-F.col("m.neg")).alias("new_label"))
        # the old label rides the snapshot for the changed count
        return labels.join(top, labels["id"] == top["dst"], "left").select(
            "id",
            F.col("label").alias("old"),
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        )

    run = supersteps(
        spark, labels, step,
        {"changed": F.count(F.when(F.col("label") != F.col("old"), 1))},
        lambda s: s["changed"] == 0,
        max_steps=rounds, num_partitions=num_partitions, release=[raw],
        edges=sym, algo="label_propagation", fingerprint="lpa",
        checkpoint_dir=checkpoint_dir, checkpoint_interval=checkpoint_interval,
        resume=resume,
    )
    sym.unpersist()
    for rec in run.records:
        rec["iter_s"] = rec["total_s"]
    if metrics_out is not None:
        metrics_out.extend(run.records)
    return run.state.select("id", "label")
