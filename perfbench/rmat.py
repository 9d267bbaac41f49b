"""Seeded Graph500 R-MAT edge generator (benchmark input, not engine code).

Edge ``i`` of ``edge_factor * 2**scale`` picks one quadrant per bit level
with the Graph500 probabilities ``(A, B, C, 1-A-B-C)``; the level's uniform draw is
``xxhash64(i, level, seed)`` mapped to ``[0, 1)``, so the edge set depends
only on ``(scale, edge_factor, seed)`` and never on the partition count.
Self-loops and duplicate edges are dropped, as the Graph500 kernel does
before its first search. Vertex ids are the raw quadrant coordinates (no
label permutation), so vertex 0 is the heaviest hub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

A, B, C = 0.57, 0.19, 0.19
_RES = 1 << 24  # resolution of the per-level uniform draw


def rmat_edges(
    spark: SparkSession,
    scale: int,
    edge_factor: int = 16,
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """→ ``edges(src long, dst long)``, distinct, without self-loops."""
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        u = F.pmod(F.xxhash64("id", F.lit(level), F.lit(seed)), F.lit(_RES)) / _RES
        src_bit = (u >= A + B).cast("long")  # quadrants c and d: lower half
        dst_bit = (((u >= A) & (u < A + B)) | (u >= A + B + C)).cast("long")
        src = src + F.shiftleft(src_bit, level)
        dst = dst + F.shiftleft(dst_bit, level)
    return (
        spark.range(edge_factor << scale, numPartitions=num_partitions)
        .select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
